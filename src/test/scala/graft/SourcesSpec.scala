package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Ingestion robustness: the behaviors a 100 TB pipeline hits on day one —
  * malformed rows in the middle of a feed, and schema drift between
  * historical partitions.
  */
class SourcesSpec extends AnyFunSuite {
  import TestSpark.{spark, sf, withRewriteFraction, RewriteAll, DvOnly}

  /** Once-per-session graft catalog registration for the catalog tests
    * (idempotent; the engine-side counterpart lives in SourceQueries).
    */
  private def ensureGraftCatalog(): Unit =
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        graft.util.TempDirs.create("graft_spec_wh_"))
    }

  test("PERMISSIVE csv read quarantines malformed rows instead of failing the job") {
    val dir = Files.createTempDirectory("graft_badcsv_").toString
    Files.writeString(Paths.get(dir, "part.csv"),
      """id,score
        |1,10.5
        |2,notanumber
        |3,7.25
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("score", DoubleType),
      StructField("_corrupt", StringType)))
    val df = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema)
      .csv(dir)
      .cache() // corrupt-record column requires materialization before filter
    assert(df.count() == 3)
    val bad = df.filter(col("_corrupt").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getAs[Long]("id") == 2)
    val good = df.filter(col("_corrupt").isNull)
    assert(good.agg(sum("score")).head.getDouble(0) == 17.75)
    df.unpersist()
  }

  test("publishLatest: one headered CSV at a stable path, re-publish replaces it") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("serve_pub_").toString + "/latest-data"
    val df1 = Tables.nation(TestSpark.spark, TestSpark.sf)
      .select(col("n_name")).orderBy("n_name").limit(3)
    graft.serve.ServeQueries.publishLatest(df1, dir)
    def csvFiles = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(csvFiles.length == 1, "serving extract must be exactly one file")
    val rows1 = TestSpark.spark.read.option("header", "true").csv(dir).count()
    assert(rows1 == 3)
    // re-publish with different content: stable path keeps working, old run gone
    graft.serve.ServeQueries.publishLatest(df1.limit(2), dir)
    assert(csvFiles.length == 1)
    assert(TestSpark.spark.read.option("header", "true").csv(dir).count() == 2)
    assert(!new java.io.File(dir + ".tmp").exists(), "temp dir must be swapped away")
  }

  test("FAILFAST csv read raises on the malformed row") {
    val dir = Files.createTempDirectory("graft_badcsv2_").toString
    Files.writeString(Paths.get(dir, "part.csv"), "id,score\n1,ok_not_num\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType)))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.option("header", "true").option("mode", "FAILFAST")
        .schema(schema).csv(dir).collect()
    }
    // Spark 4 wraps the malformed-record error in FAILED_READ_FILE; the
    // root cause chain carries the malformed-CSV detail
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m =>
      m != null && (m.contains("MALFORMED") || m.contains("Malformed") ||
        m.contains("FAILED_READ_FILE"))))
  }

  test("mergeSchema unifies drifted parquet partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drift_").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/day=1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").write.parquet(s"$dir/day=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "name", "score", "day"))
    val row1 = merged.filter(col("id") === 1).collect().head
    assert(row1.isNullAt(row1.fieldIndex("score"))) // old partition: null-filled
    assert(merged.count() == 2)
  }

  test("graft-seq DSv2 source: split planning + column pruning reach the scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = spark.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "1000").option("slices", "5").load()
    // split planning: 5 input partitions → 5 scan tasks
    assert(df.rdd.getNumPartitions == 5)
    // column pruning: a label-only projection must reach the reader as a
    // 1-column read schema (val/id never generated)
    val pruned = df.select("label").distinct()
    val scan = pruned.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan"))
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("label"))
    assert(pruned.count() == 7)
    // row contract spot check
    val r = df.filter(col("id") === 123L).collect().head
    assert(r.getLong(1) == (123L * 2654435761L) % 1000000007L)
    assert(r.getString(2) == "r" + (123 % 7))
    // uneven split: rows not divisible by slices still covers every row
    val odd = spark.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "97").option("slices", "8").load()
    assert(odd.count() == 97)
    assert(odd.agg(countDistinct(col("id"))).collect().head.getLong(0) == 97)
  }

  test("Tables.events instants are session-timezone independent (ADVICE r7)") {
    // The Spark 4.1 NTZ read path must recover epoch instants with pure
    // field arithmetic: a session in any tz sees the same unix_micros. A
    // cast("timestamp") regression would shift Tokyo by +9h here.
    def minMicros(): Long = Tables.events(spark, TestSpark.sf)
      .selectExpr("min(unix_micros(ts))").head().getLong(0)
    val utc = minMicros()
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try assert(minMicros() == utc)
    finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("q167 mergeSchema read unions writer generations with null fill") {
    val out = Registry.queries("q167_schema_merge")(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("v1", "v2"))
    val nDocs = Tables.documents(spark, TestSpark.sf).count()
    // each generation contributes every doc once; nulls sit exactly in the
    // columns that generation never wrote
    assert(out("v1").getLong(1) == nDocs && out("v2").getLong(1) == nDocs)
    assert(out("v1").getLong(2) == 0 && out("v1").getLong(3) == nDocs)
    assert(out("v2").getLong(2) == nDocs && out("v2").getLong(3) == 0)
    assert(out("v1").getDouble(4) == 0.0)
    assert(out("v2").getDouble(4) > 0.0)
  }

  test("graft-store commit publishes a complete table: parts + _SCHEMA, _SUCCESS last, no temp residue") {
    import org.apache.spark.sql.functions._
    val dir = graft.util.TempDirs.create("graft_store_spec_") + "/t1"
    val df = spark.range(100).select(col("id"),
      (col("id") * 3).as("v"),
      concat(lit("s"), (col("id") % 3).cast("string")).as("tag"))
    df.write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    val files = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(files.contains("_SUCCESS") && files.contains("_SCHEMA"))
    assert(files.exists(_.startsWith("part-")))
    assert(!files.contains("_temporary"), s"temp residue: $files")
    // read back through the provider (schema from _SCHEMA)
    val back = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    assert(back.schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    assert(back.count() == 100)
    assert(back.agg(sum("v")).head().getLong(0) == (0L until 100).map(_ * 3).sum)
    // overwrite truncates the previous generation
    df.limit(10).write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    assert(spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load().count() == 10)
    // append keeps it
    df.limit(5).write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("append").save()
    assert(spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load().count() == 15)
  }

  test("graft-store round-trips embedded newlines, quotes, CR and non-ASCII (ADVICE r9)") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_store_nl_") + "/t"
    val rows = Seq(
      (1L, "plain"),
      (2L, "embedded\nnewline"),
      (3L, "crlf\r\nboth"),
      (4L, "lone\rcr"),
      (5L, "quote\"and,comma"),
      (6L, ""),
      (7L, null),
      (8L, "café 中文 😀")) // é, CJK, surrogate-pair emoji
    rows.toDF("id", "s").coalesce(2)
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    val back = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load().collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(back.size == rows.size, s"row count drifted: $back")
    rows.foreach { case (id, s) =>
      assert(back(id) == s, s"id=$id: ${Option(back(id))} != ${Option(s)}")
    }
  }

  test("graft-store column pruning: unselected columns are never type-converted") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // hand-crafted committed table whose THIRD column cannot parse as a
    // long — a narrow select that avoids it must succeed (conversion is
    // bound per REQUIRED slot), and touching it must throw
    val dir = Files.createTempDirectory("graft_store_prune_").toString
    Files.writeString(Paths.get(dir, "_SCHEMA"), "id BIGINT,good BIGINT,poison BIGINT")
    Files.writeString(Paths.get(dir, "part-x-00000.csv"), "1,10,notanumber\n2,20,alsobad\n")
    Files.writeString(Paths.get(dir, "_MANIFEST"),
      "#version=1\n#ts=0\n#op=append\npart-x-00000.csv\n")
    Files.writeString(Paths.get(dir, "_SUCCESS"), "")
    val t = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val narrow = t.select("id", "good")
    assert(narrow.agg(sum("good")).head().getLong(0) == 30L)
    // the pruned ReadSchema reaches the DSv2 scan node
    val scan = narrow.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan"))
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("id", "good"))
    intercept[Throwable] { t.select("poison").collect() }
  }

  test("graft-store identity partitioning: hive layout, null/escaped values, pruning skips a poisoned subtree") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_store_part_") + "/t"
    val rows = Seq(
      (1L, "day", 10L), (2L, "day", 20L),
      (3L, "night", 30L), (4L, "night", 40L),
      (5L, null, 50L), (6L, "a/b=c", 60L))
    rows.toDF("id", "tag", "v")
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).option("partitionBy", "tag")
      .mode("overwrite").save()
    // Hive-style directory names: values live in the path, not the files
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("tag=day", "tag=night", "tag=__GRAFT_NULL__", "tag=a%2Fb%3Dc"),
      s"unexpected layout: $dirs")
    val back = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    assert(back.count() == 6)
    // null and escaped values round-trip through the directory name
    assert(back.filter(col("tag").isNull).select("id").head().getLong(0) == 5L)
    assert(back.filter(col("tag") === "a/b=c").select("v").head().getLong(0) == 60L)
    // PRUNING proof: corrupt every data file under tag=night; a day-side
    // probe must still succeed because the night subtree is never read
    new java.io.File(dir, "tag=night").listFiles()
      .filter(_.getName.startsWith("part-"))
      .foreach(f => Files.writeString(f.toPath, "zz\n"))
    assert(back.filter(col("tag") === "day").agg(sum("v")).head().getLong(0) == 30L)
    assert(back.filter(col("tag").isin("day", "a/b=c")).count() == 3)
    intercept[Throwable] { back.collect() } // unpruned read does hit the poison
  }

  test("graft-seq filter pushdown: accepted predicates enforced in-source, id bounds narrow planning") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = spark.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "20000").option("slices", "8").load()
    val filtered = df.filter(col("id") >= 2500L && col("id") < 17500L &&
      col("val") > 500000000L)
    val expected = (2500L until 17500L)
      .count(i => graft.sources.SeqSource.valOf(i) > 500000000L)
    assert(filtered.count() == expected)
    filtered.collect()
    val plan = filtered.queryExecution.executedPlan
    // every predicate was ACCEPTED: no residual FilterExec above the scan
    assert(plan.collectFirst { case f: FilterExec => f }.isEmpty,
      s"residual filter left in plan:\n$plan")
    assert(plan.toString.contains("PushedFilters: ["), plan.toString)
    // the scan emits the FILTERED row count (enforced in-reader)
    val scan = plan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec"))
    assert(scan.metrics("numOutputRows").value == expected)
    // split-planning narrowing: a tight id window over an astronomically
    // large source is instant — the 10^10 rows outside the bounds are
    // never generated (without narrowing this would iterate for hours)
    val huge = spark.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "10000000000").option("slices", "8").load()
      .filter(col("id") >= 9999998000L && col("id") < 9999999000L)
    assert(huge.count() == 1000)
  }

  test("graft-seq limit pushdown: caps generation at split planning, declines when a row-wise filter is pushed") {
    // a limit over a 10^10-row source plans ~1000 candidate rows — if the
    // limit were not pushed this count() would generate 10^10 rows
    val huge = spark.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "10000000000").option("slices", "8").load()
    val limited = huge.limit(1000)
    assert(limited.count() == 1000)
    assert(limited.queryExecution.executedPlan.toString.contains("PushedLimit: 1000"),
      limited.queryExecution.executedPlan.toString)
    // id bounds compose with the limit (both exact-pruning)
    val bounded = huge.filter(col("id") >= 5000000000L).limit(500)
    assert(bounded.count() == 500)
    assert(bounded.queryExecution.executedPlan.toString.contains("PushedLimit: 500"))
    // a row-wise predicate makes the limit post-filter: the source must
    // DECLINE the pushdown (capping candidates would under-produce), and
    // the result must still be exactly `limit` surviving rows
    val small = spark.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "20000").option("slices", "8").load()
    val filteredLimit = small.filter(col("val") > 500000000L).limit(100)
    assert(filteredLimit.count() == 100)
    assert(!filteredLimit.queryExecution.executedPlan.toString.contains("PushedLimit"),
      "limit must not be pushed past a row-wise filter")
  }

  test("DSv2 statistics: post-pushdown estimates reach the optimizer and drive auto-broadcast") {
    // seq source: the size estimate tracks the pushed id bounds, so a
    // narrow probe over an astronomically large table is broadcast-sized
    val wide = spark.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "50000000").option("slices", "8").load()
    val narrow = wide.filter(col("id") >= 100L && col("id") < 300L)
    val wideB = wide.queryExecution.optimizedPlan.stats.sizeInBytes
    val narrowB = narrow.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(narrowB * 10000 < wideB, s"narrow=$narrowB wide=$wideB")
    // without SupportsReportStatistics this is defaultSizeInBytes (~2^63)
    assert(wideB < BigInt(Long.MaxValue) / 4, s"stats not reported: $wideB")

    // and the planner USES it: the filtered seq side auto-broadcasts
    // against a large frame with NO broadcast hint anywhere
    val fact = spark.range(0, 4000000).toDF("id") // 32 MB estimate > 10 MB bar
    val joined = fact.join(narrow, "id")
    assert(joined.count() == 200)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected auto-broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")

    // graft-store: the estimate is the byte sum of the SURVIVING
    // partition directories, scaled by the pruned column width
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_store_stats_") + "/t"
    (0L until 1000L).map(i => (i, if (i % 100 == 0) "rare" else "bulk", "x" * 50))
      .toDF("id", "tag", "pad")
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).option("partitionBy", "tag")
      .mode("overwrite").save()
    val all = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val allB = all.queryExecution.optimizedPlan.stats.sizeInBytes
    val rareB = all.filter(col("tag") === "rare")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(rareB * 10 < allB, s"partition-pruned stats not reflected: rare=$rareB all=$allB")
  }

  test("graft-store dynamic partition pruning: a dim-driven probe never opens unselected partitions") {
    // Partitioned fact store; the selected partitions are only knowable
    // at RUNTIME (they come out of a join against a filtered dim), so
    // static pushdown cannot help — this is SupportsRuntimeFiltering.
    val dir = graft.util.TempDirs.create("graft_store_dpp_") + "/fact"
    val fact0 = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    fact0.write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).option("partitionBy", "event_type")
      .mode("overwrite").save()
    val fact = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val dim = Tables.events(spark, sf)
      .select("event_type").distinct()
      .filter(col("event_type").isin("view", "purchase"))
    val expected = fact0.filter(col("event_type").isin("view", "purchase")).count()

    // poison every NON-selected partition's data files: if runtime
    // pruning fails to fire, the scan parses a poisoned file and throws
    new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("event_type=") &&
        !Set("event_type=view", "event_type=purchase").contains(d.getName))
      .flatMap(d => d.listFiles().filter(_.getName.startsWith("part-")))
      .foreach(f => Files.writeString(f.toPath, "zz\n"))

    val joined = fact.join(dim, "event_type")
    assert(joined.count() == expected) // succeeds ONLY if pruned at runtime
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no runtime filter on the scan:\n$plan")
  }

  test("graft-store aggregate pushdown: COUNT/MIN/MAX answered without converting a data cell") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_store_agg_") + "/t"
    val rows = (0L until 900L).map(i =>
      (i, s"d${i % 3}", i * 7 % 101, if (i % 10 == 0) null else s"pad$i"))
    rows.toDF("id", "day", "v", "pad")
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).option("partitionBy", "day")
      .mode("overwrite").save()
    val t = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()

    // global COUNT(*): pushed — and correct
    val cnt = t.agg(count(lit(1)).as("n"))
    assert(cnt.head().getLong(0) == 900L)
    val cntPlan = cnt.queryExecution.executedPlan.toString
    assert(cntPlan.contains("PushedAggregates: [COUNT(*)]"), cntPlan)

    // group-by partition column + min/max of it: every value from
    // directory names + record-boundary counts; zero cells converted
    val byDay = t.groupBy("day")
      .agg(count(lit(1)).as("n"), min("day").as("lo"), max("day").as("hi"))
      .orderBy("day")
    val got = byDay.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("d0", 300L), ("d1", 300L), ("d2", 300L)), got.toString)
    val gPlan = byDay.queryExecution.executedPlan.toString
    assert(gPlan.contains("PushedAggregates: [COUNT(*), MIN(day), MAX(day)]") &&
      gPlan.contains("PushedGroupBy: [day]"), gPlan)

    // ZERO-CONVERSION proof: poison every data file's field contents
    // (keep record boundaries); the pushed count must still answer
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(d => d.listFiles().filter(_.getName.startsWith("part-")))
      .foreach { f =>
        val lines = Files.readAllLines(f.toPath).size()
        Files.writeString(f.toPath, "zz,zz,zz\n" * lines)
      }
    assert(t.agg(count(lit(1)).as("n")).head().getLong(0) == 900L)

    // composition with partition-filter pushdown: pruned dirs don't count
    assert(t.filter(col("day") === "d1").agg(count(lit(1))).head().getLong(0) == 300L)

    // DATA-column MIN/MAX/COUNT (VERDICT r10 task 1): answered from the
    // _STATS zone map — the files are all poisoned, so a correct answer
    // here PROVES no cell was parsed
    val dataAgg = t.agg(max("v").as("hi"), min("v").as("lo"),
      count(col("pad")).as("np"))
    assert(dataAgg.queryExecution.executedPlan.toString
      .contains("PushedAggregates: [MAX(v), MIN(v), COUNT(pad)]"))
    val r = dataAgg.head()
    // v = i*7 % 101 over 0..899 spans [0, 100]; pad null at i % 10 == 0
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((100L, 0L, 810L)),
      r.toString)

    // SUM (VERDICT r11 task 4): answered from the _STATS per-file exact
    // sums — the files are poisoned, so a correct answer proves no cell
    // was parsed
    val sumAgg = t.agg(sum("v"))
    assert(sumAgg.queryExecution.executedPlan.toString
      .contains("PushedAggregates: [SUM(v)]"))
    assert(sumAgg.head().getLong(0) == (0L until 900L).map(i => i * 7 % 101).sum)

    // an aggregate the sidecar cannot answer (stddev needs every cell)
    // is declined — Spark must read real rows, which are poisoned, so
    // the fallback path visibly executes and fails
    val sdAgg = t.agg(stddev_samp(col("v")))
    assert(!sdAgg.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    intercept[Throwable] { sdAgg.collect() }

    // empty store: pushdown declines, Spark's global count stays 0
    val empty = graft.util.TempDirs.create("graft_store_agg_empty_") + "/e"
    val e = spark.read.format("graft.sources.GraftStoreProvider")
      .schema("id bigint, day string").option("path", empty).load()
    assert(e.agg(count(lit(1))).head().getLong(0) == 0L)
  }

  test("graft-store failed job publishes nothing: no _SUCCESS, no parts, reader sees empty") {
    import org.apache.spark.sql.functions._
    val dir = graft.util.TempDirs.create("graft_store_spec_") + "/t2"
    // one task throws mid-write; other tasks may have completed their temps
    val poisoned = spark.range(0, 1000, 1, 8).select(col("id"),
      when(assert_true(col("id") =!= 777).isNull, col("id") * 2)
        .otherwise(col("id")).as("v"))
    val failed =
      try {
        poisoned.write.format("graft.sources.GraftStoreProvider")
          .option("path", dir).mode("overwrite").save()
        false
      } catch { case _: Throwable => true }
    assert(failed, "write was expected to fail")
    val d = new java.io.File(dir)
    val files = if (d.isDirectory) d.listFiles().map(_.getName).toSet else Set.empty[String]
    assert(!files.contains("_SUCCESS"), s"failed job published a marker: $files")
    assert(!files.exists(_.startsWith("part-")), s"failed job left parts: $files")
    // no manifest: an explicit-schema read of the aborted dir is the empty version 0
    val back = spark.read.format("graft.sources.GraftStoreProvider")
      .schema("id bigint, v bigint")
      .option("path", dir).load()
    assert(back.count() == 0)
  }

  test("graft-store zone maps: _STATS skips files a data predicate cannot match, stays residual-correct") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_store_zm_") + "/t"
    // 4 range-clustered files over id [0,400): [0,100) [100,200) ...
    (0L until 400L).map(i => (i, s"s${i % 5}", if (i % 7 == 0) null else s"w$i"))
      .toDF("id", "tag", "w")
      .repartitionByRange(4, col("id"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    assert(new java.io.File(dir, "_STATS").isFile, "stats sidecar missing")
    val t = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()

    // SKIP proof (the q252 poisoned-file trick): corrupt every file whose
    // id range lies outside [150, 180); the probe must never open them
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 4, parts.map(_.getName).mkString(","))
    // range-partition boundaries are sampled, not exact — poison by each
    // file's ACTUAL id range (what the zone map records)
    var poisonedCount = 0
    parts.foreach { f =>
      val ids = Files.readString(f.toPath).linesIterator
        .map(_.split(",")(0).toLong).toSeq
      if (ids.max < 150 || ids.min >= 180) {
        Files.writeString(f.toPath, "zz,zz,zz\n"); poisonedCount += 1
      }
    }
    assert(poisonedCount >= 2, s"probe window spans too many files: $poisonedCount")
    val probe = t.filter(col("id") >= 150L && col("id") < 180L)
    assert(probe.count() == 30L)
    assert(probe.agg(sum("id")).head().getLong(0) == (150L until 180L).sum)
    // the residual predicate is still row-checked: ids below 150 in the
    // surviving file must NOT leak through
    assert(probe.select(min("id")).head().getLong(0) == 150L)
    // the skip filters are visible on the scan for plan pinning
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(probePlan.contains("SkipFilters: [") &&
      probePlan.contains("LessThan(id,180)"), probePlan)
    // an unskippable read does hit the poison
    intercept[Throwable] { t.collect() }

    // null-count stats: IsNull/IsNotNull refutation. File [100,200) has
    // w nulls only at multiples of 7; a file-wide IsNull probe keeps it.
    assert(t.filter(col("id") >= 150L && col("id") < 180L && col("w").isNull)
      .count() == (150L until 180L).count(_ % 7 == 0))
    // string bounds: a StartsWith that no file's [min,max] admits skips
    // everything (all poisoned files included) — zero rows, no error
    assert(t.filter(col("tag").startsWith("zzz")).count() == 0L)
  }

  test("graft-store columnar read: equals the written rows, ColumnarToRow in the plan") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_store_col_") + "/t"
    val rows = Seq(
      (1L, 10, 1.5, true, "plain"),
      (2L, -20, -0.0, false, "embedded\nnewline"),
      (3L, 30, Double.NaN, true, "quote\"and,comma"),
      (4L, 40, 4.25, false, ""),
      (5L, 0, 5.0, true, null),
      (6L, 66, -7.75, false, "café 中文 😀"))
    val written = rows.toDF("id", "i", "d", "b", "s")
    written.coalesce(2)
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    val colPath = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val a = written.orderBy("id").collect().map(_.toString).toSeq
    val b = colPath.orderBy("id").collect().map(_.toString).toSeq
    assert(a == b, s"columnar read diverged from the written rows:\n$a\n$b")
    val plan = colPath.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"columnar path not engaged:\n$plan")
    // columnar + pruning + partition constants compose
    val dir2 = graft.util.TempDirs.create("graft_store_col2_") + "/t"
    rows.toDF("id", "i", "d", "b", "s")
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).option("partitionBy", "b")
      .mode("overwrite").save()
    val back2 = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).load()
    assert(back2.filter(col("b")).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 5L))
    // a >4096-row store crosses batch boundaries losslessly
    val dir3 = graft.util.TempDirs.create("graft_store_col3_") + "/t"
    spark.range(0, 10000, 1, 2).select(col("id"), (col("id") * 3).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir3).mode("overwrite").save()
    val big = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir3).load()
    assert(big.count() == 10000L)
    assert(big.agg(sum("v")).head().getLong(0) == (0L until 10000L).map(_ * 3).sum)
  }

  test("graft-store compaction: small parts merge behind one atomic manifest swap, reads identical") {
    import graft.sources.GraftMaintenance
    val dir = graft.util.TempDirs.create("graft_compact_") + "/t"
    def w(lo: Long, hi: Long, mode: String) =
      spark.range(lo, hi, 1, 3)
        .select(col("id"), (col("id") % 4).cast("string").as("day"),
          (col("id") * 7).as("v"))
        .write.format("graft.sources.GraftStoreProvider")
        .option("path", dir).option("partitionBy", "day").mode(mode).save()
    w(0, 400, "overwrite"); w(400, 800, "append"); w(800, 1200, "append")
    def read() = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    def dataFiles: Seq[java.io.File] = {
      def go(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
          case f if f.isFile && (f.getName.startsWith("part-") ||
            f.getName.startsWith("merged-")) => Seq(f)
          case d2 if d2.isDirectory && d2.getName.contains("=") => go(d2)
          case _ => Seq.empty
        }
      go(new java.io.File(dir))
    }
    val before = read().collect().map(_.toString).sorted.toSeq
    val nBefore = dataFiles.size
    assert(nBefore >= 12, s"fixture too small: $nBefore files") // 3 jobs x >=1 file x 4 days

    val res = GraftMaintenance.compact(dir)
    assert(res.filesBefore == nBefore && res.filesAfter < nBefore, res.toString)
    // the replaced inputs are RETIRED, not unlinked (r11 task 1): still
    // on disk for pinned readers until retention GC removes them
    assert(dataFiles.size == nBefore + res.merged, "inputs GC'd before expire")
    assert(new java.io.File(dir, "_MANIFEST").isFile, "no manifest after compaction")
    val after = read().collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction changed the data")
    GraftMaintenance.expireSnapshots(dir, olderThanMs = 0L)
    assert(dataFiles.size == res.filesAfter, "retention GC left retired files")

    // merged zone maps stay exact: a data-column MAX answers from _STATS
    val agg = read().agg(max("v"))
    assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregates: [MAX(v)]"))
    assert(agg.head().getLong(0) == 1199L * 7)

    // idempotent: nothing left to merge
    val res2 = GraftMaintenance.compact(dir)
    assert(res2.merged == 0 && res2.filesAfter == res2.filesBefore, res2.toString)

    // appends after compaction surface through the manifest
    w(1200, 1210, "append")
    assert(read().count() == 1210)

    // partition pruning still composes: poison the day=0 merged file, a
    // day=1 probe never opens it
    val day0 = new java.io.File(dir, "day=0").listFiles()
      .filter(f => f.getName.startsWith("merged-"))
    assert(day0.nonEmpty)
    val saved = Files.readAllBytes(day0.head.toPath)
    Files.writeString(day0.head.toPath, "zz,zz\n")
    assert(read().filter(col("day") === "1").count() == 303)
    Files.write(day0.head.toPath, saved)

    // kill-before-commit: stray data files with no manifest entry (a
    // merged file whose compact died pre-swap, or an append's part file
    // published before its manifest update) are invisible to readers
    // and swept by retention GC — but ONLY past the grace window, so a
    // concurrent append's just-published file can never be unlinked
    // between its publish and its manifest update (ADVICE r11 medium)
    val stray = new java.io.File(dir, "day=2/merged-deadbeef-99999.csv")
    Files.writeString(stray.toPath, "999999,0\n")
    val strayPart = new java.io.File(dir, "day=1/part-deadbeef-99999.csv")
    Files.writeString(strayPart.toPath, "888888,0\n")
    assert(read().count() == 1210, "stray data file leaked into a read")
    GraftMaintenance.expireSnapshots(dir, olderThanMs = 0L)
    assert(stray.isFile && strayPart.isFile,
      "a young stray was swept inside the grace window")
    stray.setLastModified(System.currentTimeMillis() - 120000L)
    strayPart.setLastModified(System.currentTimeMillis() - 120000L)
    // a torn writeAtomic temp (kill between tmp write and atomic move)
    // must neither crash GC's version parse nor survive it once aged
    val tornTmp = new java.io.File(dir, "_MANIFEST.v99.tmp")
    Files.writeString(tornTmp.toPath, "#version=99\n")
    tornTmp.setLastModified(System.currentTimeMillis() - 120000L)
    GraftMaintenance.expireSnapshots(dir, olderThanMs = 0L)
    assert(!stray.isFile, "stray merged file not swept")
    assert(!strayPart.isFile, "orphaned part file not swept")
    assert(!tornTmp.isFile, "torn metadata temp not swept")
    assert(read().count() == 1210)

    // torn state fails LOUDLY: a manifest-listed file that disappeared
    val victim = dataFiles.head
    val savedV = Files.readAllBytes(victim.toPath)
    Files.delete(victim.toPath)
    intercept[Throwable] { read().count() }
    Files.write(victim.toPath, savedV)
    assert(read().count() == 1210)

    // targetBytes bin-packing: an unpartitioned store of 6 equal files
    // compacted with a 2-file-sized target yields ceil(6/2)=3 merged
    // files, and the merged zone maps still skip by range
    val dir2 = graft.util.TempDirs.create("graft_compact_bins_") + "/t"
    (0 until 3).foreach { g =>
      spark.range(g * 2000L, (g + 1) * 2000L, 1, 2)
        .select(col("id"), (col("id") * 3).as("v"))
        .sortWithinPartitions("id")
        .write.format("graft.sources.GraftStoreProvider")
        .option("path", dir2).mode(if (g == 0) "overwrite" else "append").save()
    }
    def files2 = new java.io.File(dir2).listFiles()
      .filter(f => f.getName.startsWith("part-") || f.getName.startsWith("merged-"))
    assert(files2.length == 6)
    val oneFile = files2.map(_.length()).max
    val res3 = graft.sources.GraftMaintenance.compact(dir2, targetBytes = oneFile * 2)
    assert(res3.filesAfter == 3 && res3.merged == 3, res3.toString)
    assert(spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).load().count() == 6000)
    graft.sources.GraftMaintenance.expireSnapshots(dir2, olderThanMs = 0L)
    // each merged file spans 2 input files; a probe inside one bin's id
    // range opens only that bin (poison the rest)
    val statsLines = Files.readString(Paths.get(dir2, "_STATS"))
    assert(statsLines.linesIterator.count(!_.startsWith("#")) == 3, statsLines)
    val t2 = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).load()
    files2.foreach { f =>
      val ids = Files.readString(f.toPath).linesIterator
        .map(_.split(",")(0).toLong).toSeq
      if (ids.max < 100 || ids.min > 150) Files.writeString(f.toPath, "zz,zz\n")
    }
    assert(t2.filter(col("id") >= 100L && col("id") <= 150L)
      .agg(sum("v")).head().getLong(0) == (100L to 150L).map(_ * 3).sum)
  }

  test("graft-store read contracts: empty store counts 0 on every path, corrupt sidecars fail loudly") {
    // empty committed table: _SUCCESS + _SCHEMA, zero part files
    val dir = graft.util.TempDirs.create("graft_empty_") + "/t"
    spark.range(0).select(col("id"), (col("id") * 2).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    assert(new java.io.File(dir, "_SUCCESS").isFile)
    val t = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    assert(t.count() == 0L) // COUNT(*): pushdown declines on empty, Spark plans the 0
    assert(t.agg(count(lit(1))).head().getLong(0) == 0L)
    assert(t.agg(sum("v")).head().isNullAt(0)) // SQL: SUM over empty is NULL
    assert(t.collect().isEmpty)

    // corrupt _STATS: fails loudly (never a silent partial answer);
    // removing the advisory sidecar restores reads
    val dir2 = graft.util.TempDirs.create("graft_corrupt_") + "/t"
    spark.range(10).select(col("id"), (col("id") * 2).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).mode("overwrite").save()
    Files.writeString(Paths.get(dir2, "_STATS"),
      "#graft-stats-v2\ngarbage\twithout\tstructure\n")
    intercept[Throwable] {
      spark.read.format("graft.sources.GraftStoreProvider")
        .option("path", dir2).load().count()
    }
    // a torn trailing column group (field count not 2 + 5k) is equally
    // loud — never a silently degraded entry
    Files.writeString(Paths.get(dir2, "_STATS"),
      "#graft-stats-v2\nf.csv\t10\tv\t0\tonly-min\n")
    intercept[Throwable] {
      spark.read.format("graft.sources.GraftStoreProvider")
        .option("path", dir2).load().count()
    }
    Files.delete(Paths.get(dir2, "_STATS"))
    assert(spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).load().count() == 10L)

    // corrupt _MANIFEST: loud, not a silent subset
    Files.writeString(Paths.get(dir2, "_MANIFEST"), "no-such-file.csv\n")
    intercept[Throwable] {
      spark.read.format("graft.sources.GraftStoreProvider")
        .option("path", dir2).load().count()
    }
    Files.delete(Paths.get(dir2, "_MANIFEST"))
  }

  test("graft catalog: DDL/DML round-trips partitioning, empty table reads 0, drop/rename work") {
    import spark.implicits._
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.specdb")
    spark.sql("DROP TABLE IF EXISTS graft.specdb.t1")
    spark.sql("""CREATE TABLE graft.specdb.t1 (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin)
    // a freshly created table is a COMMITTED empty store
    assert(spark.sql("SELECT count(*) FROM graft.specdb.t1").head().getLong(0) == 0L)
    // partitioning survives the catalog round trip
    val desc = spark.sql("DESCRIBE TABLE graft.specdb.t1").collect()
      .map(_.getString(0))
    assert(desc.contains("# Partition Information") || desc.contains("day"),
      desc.mkString("|"))
    spark.sql(
      "INSERT INTO graft.specdb.t1 SELECT id, CAST(id % 3 AS STRING), id * 2 FROM range(90)")
    assert(spark.sql("SELECT count(*) FROM graft.specdb.t1").head().getLong(0) == 90L)
    // the named table IS a graft-store table: Hive-layout dirs + metadata
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = new java.io.File(s"$wh/specdb/t1")
    val dirs = tdir.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("day=0", "day=1", "day=2"), dirs.toString)
    // partition-pruned named-table SQL: poison day=2, a day<=1 probe works
    new java.io.File(tdir, "day=2").listFiles()
      .filter(_.getName.startsWith("part-"))
      .foreach(f => Files.writeString(f.toPath, "zz,zz\n"))
    assert(spark.sql(
      "SELECT sum(v) FROM graft.specdb.t1 WHERE day IN ('0','1')")
      .head().getLong(0) ==
      (0L until 90L).filter(i => i % 3 != 2).map(_ * 2).sum)
    // (a bare sum(v) is now answered from _STATS without opening files —
    // r11 task 4 — so the poison proof must FORCE row reads)
    intercept[Throwable] {
      spark.sql("SELECT v FROM graft.specdb.t1").collect()
    }
    // second INSERT appends through the same commit protocol
    spark.sql("DROP TABLE graft.specdb.t1")
    assert(spark.sql("SHOW TABLES IN graft.specdb").collect()
      .forall(r => r.getString(1) != "t1"))
    // create/insert/rename/read
    spark.sql("CREATE TABLE graft.specdb.t2 (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.specdb.t2 SELECT id, id + 1 FROM range(5)")
    // RENAME TO is catalog-relative: the target names namespace.table
    spark.sql("ALTER TABLE graft.specdb.t2 RENAME TO specdb.t3")
    assert(spark.sql("SELECT sum(v) FROM graft.specdb.t3").head().getLong(0) == 15L)
    assert(!spark.catalog.tableExists("graft.specdb.t2"))
    // duplicate create fails loudly; IF NOT EXISTS is quiet
    intercept[Throwable] {
      spark.sql("CREATE TABLE graft.specdb.t3 (x BIGINT, y BIGINT)")
    }
    spark.sql("CREATE TABLE IF NOT EXISTS graft.specdb.t3 (x BIGINT, y BIGINT)")
    spark.sql("DROP TABLE graft.specdb.t3")
  }

  test("graft-store limit pushdown: zone-map row counts cap file planning, declines on row-wise filters") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_store_lim_") + "/t"
    spark.range(0, 5000, 1, 5).select(col("id"), (col("id") * 3).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 5)
    // poison everything but the FIRST planned file: a pushed LIMIT that
    // the first file's 1000-row zone map already covers must not open them
    parts.drop(1).foreach(f => Files.writeString(f.toPath, "zz,zz\n"))
    val t = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val lim = t.limit(800)
    assert(lim.count() == 800)
    assert(lim.queryExecution.executedPlan.toString.contains("PushedLimit: 800"))
    // a limit larger than the confirmed first file keeps planning (and
    // dies on the poison — proving the cut really was stats-driven)
    intercept[Throwable] { t.limit(1500).collect() }
    // a row-wise (pushed-but-residual) filter makes the limit
    // post-filter: pushLimit DECLINES, so no PushedLimit on the scan
    // and file planning is NOT capped (Spark's own CollectLimit still
    // reads lazily, so assert on the plan, not on the poison)
    val filtered = t.filter(col("v") > 100L).limit(3)
    assert(filtered.collect().length == 3)
    val fPlan = filtered.queryExecution.executedPlan.toString
    assert(fPlan.contains("GreaterThan(v,100)") && !fPlan.contains("PushedLimit"),
      fPlan)
    // partition filters prune exactly, so LIMIT composes with them
    val dir2 = graft.util.TempDirs.create("graft_store_lim2_") + "/t"
    spark.range(0, 900, 1, 3)
      .select(col("id"), (col("id") % 3).cast("string").as("day"), (col("id") * 2).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).option("partitionBy", "day")
      .mode("overwrite").save()
    val t2 = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).load()
    val probe = t2.filter(col("day") === "1").limit(5)
    assert(probe.collect().length == 5)
    assert(probe.collect().forall(_.getAs[String]("day") == "1"))
    assert(probe.queryExecution.executedPlan.toString.contains("PushedLimit: 5"))
  }

  test("graft-store DELETE: partition predicates drop whole files/dirs, data predicates are rejected") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.deldb")
    spark.sql("DROP TABLE IF EXISTS graft.deldb.t")
    spark.sql("""CREATE TABLE graft.deldb.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin)
    spark.sql(
      "INSERT INTO graft.deldb.t SELECT id, CAST(id % 4 AS STRING), id * 2 FROM range(400)")
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = new java.io.File(s"$wh/deldb/t")
    assert(new java.io.File(tdir, "day=2").isDirectory)
    // poison day=2's files FIRST: the delete must never read them
    new java.io.File(tdir, "day=2").listFiles()
      .filter(_.getName.startsWith("part-"))
      .foreach(f => Files.writeString(f.toPath, "zz,zz\n"))
    spark.sql("DELETE FROM graft.deldb.t WHERE day = '2'")
    // catalog tables are VERSIONED: the DELETE is a logical snapshot
    // commit — the partition's files are RETIRED (poisoned bytes still
    // on disk, never read), and physical erasure is retention GC's job
    assert(new java.io.File(tdir, "day=2").exists(), "retired files GC'd early")
    assert(spark.sql("SELECT count(*) FROM graft.deldb.t").head().getLong(0) == 300L)
    assert(spark.sql("SELECT count(*) FROM graft.deldb.t WHERE day = '2'")
      .head().getLong(0) == 0L)
    // DELETE + expireSnapshots(0) = the right-to-be-forgotten end state
    graft.sources.GraftMaintenance.expireSnapshots(tdir.getAbsolutePath,
      olderThanMs = 0L)
    assert(!new java.io.File(tdir, "day=2").exists(), "partition dir not dropped")
    // IN and three-valued forms compose
    spark.sql("DELETE FROM graft.deldb.t WHERE day IN ('0')")
    assert(spark.sql("SELECT count(*) FROM graft.deldb.t").head().getLong(0) == 200L)
    spark.sql("DROP TABLE graft.deldb.t")
  }

  test("graft catalog ADD COLUMN: zero-rewrite evolution, old files read null, rewrites rejected") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.evodb")
    spark.sql("DROP TABLE IF EXISTS graft.evodb.t")
    spark.sql("CREATE TABLE graft.evodb.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.evodb.t SELECT id, id * 2 FROM range(10)")
    spark.sql("ALTER TABLE graft.evodb.t ADD COLUMN note STRING")
    // pre-evolution rows read the new column as null — no file rewritten
    val r1 = spark.sql("SELECT count(*) n, count(note) nn FROM graft.evodb.t").head()
    assert((r1.getLong(0), r1.getLong(1)) == ((10L, 0L)), r1.toString)
    // post-evolution inserts carry it
    spark.sql(
      "INSERT INTO graft.evodb.t SELECT id, id, CONCAT('n', CAST(id AS STRING)) FROM range(5)")
    val r2 = spark.sql("SELECT count(*) n, count(note) nn FROM graft.evodb.t").head()
    assert((r2.getLong(0), r2.getLong(1)) == ((15L, 5L)), r2.toString)
    assert(spark.sql("SELECT max(note) FROM graft.evodb.t").head().getString(0) == "n4")
    // the path read equals the written rows across generations
    val tdir = spark.conf.get("spark.sql.catalog.graft.warehouse") + "/evodb/t"
    def ordered(rs: Seq[(Long, Long, Option[String])]) =
      rs.sortBy(r => (r._1, r._2, r._3.getOrElse("")))
    val got = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", tdir).load().collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[Long]("v"), Option(r.getAs[String]("note"))))
      .toSeq
    val written = (0L until 10L).map(i => (i, i * 2, None)) ++
      (0L until 5L).map(i => (i, i, Some(s"n$i")))
    assert(ordered(got) == ordered(written))
    // evolutions that would rewrite committed files are rejected
    // (DROP COLUMN is no longer one of them — see the field-id test)
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.evodb.t ALTER COLUMN v TYPE INT")
    }
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.evodb.t ADD COLUMN x BIGINT NOT NULL")
    }
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.evodb.t ADD COLUMN y BIGINT FIRST")
    }
    // a failed ALTER leaves the declared schema untouched — no silent path
    assert(spark.table("graft.evodb.t").schema.fieldNames.toSeq ==
      Seq("id", "v", "note"))
    spark.sql("DROP TABLE graft.evodb.t")
  }

  test("graft catalog RENAME COLUMN: position-preserving zero-rewrite evolution, stats keys migrate") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rendb")
    spark.sql("DROP TABLE IF EXISTS graft.rendb.t")
    spark.sql("""CREATE TABLE graft.rendb.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin)
    spark.sql("""INSERT INTO graft.rendb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 2 AS STRING), id * 2
                |FROM range(0, 100)""".stripMargin)
    spark.sql("""INSERT INTO graft.rendb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 2 AS STRING), id * 2
                |FROM range(100, 200)""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = s"$wh/rendb/t"
    val filesBefore = graft.sources.GraftMaintenance.currentVersion(tdir)

    spark.sql("ALTER TABLE graft.rendb.t RENAME COLUMN id TO event_id")
    // zero rewrites: same version (rename is metadata-only), old files
    // read under the new name, both generations intact
    assert(graft.sources.GraftMaintenance.currentVersion(tdir) == filesBefore)
    assert(spark.table("graft.rendb.t").schema.fieldNames.toSeq ==
      Seq("event_id", "day", "v"))
    assert(spark.sql("SELECT sum(event_id) FROM graft.rendb.t").head().getLong(0)
      == (0L until 200L).sum)

    // zone maps survived the rename: a range probe under the NEW name
    // still skips the non-overlapping file (planned-partition count)
    val probe = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", tdir).load()
      .filter(col("event_id") >= 150L)
    assert(probe.count() == 50L)
    val scans = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scans.contains("event_id"), scans.take(400))
    // stats-backed aggregate pushdown still engages post-rename (the
    // _STATS keys were migrated): MIN/MAX under the new name
    val agg = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", tdir).load().agg(min("event_id"), max("event_id"))
    assert(agg.queryExecution.executedPlan.toString.contains("MIN(event_id)"),
      "stats pushdown must survive the rename")
    assert(agg.head().getLong(0) == 0L && agg.head().getLong(1) == 199L)

    // partition columns cannot be renamed OR dropped (their name IS the
    // layout); metadata-column collisions are rejected
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.rendb.t RENAME COLUMN day TO d")
    }
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.rendb.t RENAME COLUMN v TO _file")
    }
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.rendb.t DROP COLUMN day")
    }
    assert(spark.table("graft.rendb.t").schema.fieldNames.toSeq ==
      Seq("event_id", "day", "v"), "failed ALTERs must not leak partial schemas")
    spark.sql("DROP TABLE graft.rendb.t")
  }

  test("dynamic partition overwrite: only touched partitions replace, history and CDC attribute it") {
    // `df.writeTo(t).overwritePartitions()` — the serving-refresh shape:
    // recompute a few partitions of a big table without touching the rest
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dyndb")
    spark.sql("DROP TABLE IF EXISTS graft.dyndb.t")
    spark.sql("""CREATE TABLE graft.dyndb.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin) // v1
    spark.sql("""INSERT INTO graft.dyndb.t
                |SELECT /*+ REPARTITION(1) */ id, CASE WHEN id < 40 THEN 'a'
                |  WHEN id < 70 THEN 'b' ELSE 'c' END, id * 2
                |FROM range(0, 100)""".stripMargin) // v2: a=40, b=30, c=30
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = s"$wh/dyndb/t"
    def files(day: String): Map[String, Long] =
      Option(new java.io.File(s"$tdir/day=$day").listFiles())
        .getOrElse(Array.empty).map(f => f.getName -> f.lastModified()).toMap
    val bBefore = files("b"); val cBefore = files("c")
    val v0 = graft.sources.GraftMaintenance.currentVersion(tdir).get

    // refresh day=a with new content, add day=d — b and c untouched
    spark.range(0, 10)
      .selectExpr("id", "CASE WHEN id < 5 THEN 'a' ELSE 'd' END AS day",
        "id * 100 + 1 AS v") // +1: no row may equal its old self, see below
      .writeTo("graft.dyndb.t").overwritePartitions() // v3
    assert(graft.sources.GraftMaintenance.currentVersion(tdir).contains(v0 + 1),
      "dynamic overwrite is ONE commit")
    // untouched partitions: same files, same mtimes, rows intact
    assert(files("b") == bBefore && files("c") == cBefore,
      "untouched partitions must not move")
    val rows = spark.table("graft.dyndb.t").groupBy("day").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("a" -> 5L, "b" -> 30L, "c" -> 30L, "d" -> 5L), rows.toString)
    assert(spark.sql("SELECT sum(v) FROM graft.dyndb.t WHERE day = 'a'")
      .head().getLong(0) == (0L until 5L).map(_ * 100 + 1).sum)
    // time travel crosses the refresh (old a rows retired, not unlinked)
    assert(spark.sql(s"SELECT count(*) FROM graft.dyndb.t VERSION AS OF $v0")
      .head().getLong(0) == 100L)
    // the changelog attributes exactly the touched partitions (had a
    // new row equalled its old self byte-for-byte, netChanges would
    // rightly cancel the pair — hence the +1 above)
    val net = graft.sources.GraftCDC.netChanges(spark, tdir, v0, Some(v0 + 1))
      .groupBy("_change_type", "day").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(net == Map(("delete", "a") -> 40L, ("insert", "a") -> 5L,
      ("insert", "d") -> 5L), net.toString)
    spark.sql("DROP TABLE graft.dyndb.t")
  }

  test("auto DML mode: per-file COW/MOR decision — one DV + one rewrite in a single commit") {
    // VERDICT r13 task 4: `auto` decides per file from the commit's own
    // matched-row counts — a 1%-hit file binds a deletion vector, a
    // 90%-hit file rewrites its kept rows; ONE version carries both
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.autodb")
    spark.sql("DROP TABLE IF EXISTS graft.autodb.t")
    spark.sql("""CREATE TABLE graft.autodb.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin)
    spark.sql("""INSERT INTO graft.autodb.t
                |SELECT /*+ REPARTITION(1) */ id,
                |       CASE WHEN id < 100 THEN 'a' ELSE 'b' END, id * 2
                |FROM range(0, 111)""".stripMargin) // a: 100 rows, b: 11 rows
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = s"$wh/autodb/t"
    def files(day: String): Map[String, (Long, Long)] =
      Option(new java.io.File(s"$tdir/day=$day").listFiles())
        .getOrElse(Array.empty)
        .map(f => f.getName -> ((f.lastModified(), f.length()))).toMap
    val aBefore = files("a")
    val v0 = graft.sources.GraftMaintenance.currentVersion(tdir).get

    withRewriteFraction(0.5) {
      // 1 of 100 rows in file a (1% < 0.5 -> DV), 10 of 11 in file b
      // (91% >= 0.5 -> rewrite)
      spark.sql("DELETE FROM graft.autodb.t WHERE id = 5 OR id >= 101")
      assert(graft.sources.GraftMaintenance.currentVersion(tdir)
        .contains(v0 + 1), "the mixed decision must be ONE commit")
      // file a untouched (name/mtime/size), its dead row behind a DV
      assert(files("a") == aBefore,
        "a 1%-hit file must take a deletion vector, not a rewrite")
      val manifest = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(tdir, "_MANIFEST").toPath), "UTF-8")
      assert(manifest.contains("#dv=") && manifest.contains("day%3Da"),
        "file a must carry a DV binding in the committed manifest")
      // file b replaced by a materialized rewrite IN THE MANIFEST (the
      // original stays on disk, retired for pinned readers), NOT DV-bound
      val dataLines = manifest.linesIterator.filterNot(_.startsWith("#")).toSeq
      assert(dataLines.exists(l => l.contains("day%3Db") && l.contains("-m")),
        s"file b must be rewritten, manifest files: $dataLines")
      assert(!dataLines.exists(l => l.contains("day%3Db") && l.contains("part-")),
        "the original b file must leave the manifest")
      assert(!manifest.linesIterator.exists(l =>
        l.startsWith("#dv=") && l.contains("day%3Db")),
        "the rewritten file must not be DV-bound")
      // results exact on both reader paths
      assert(spark.sql("SELECT count(*) FROM graft.autodb.t").head().getLong(0)
        == 111L - 11L)
      assert(spark.sql("SELECT sum(v) FROM graft.autodb.t WHERE day = 'b'")
        .head().getLong(0) == 100L * 2L)
      // the changelog nets exactly the deleted rows, both halves
      val net = graft.sources.GraftCDC.netChanges(spark, tdir, v0, Some(v0 + 1))
      assert(net.count() == 11L)
      assert(net.filter(col("_change_type") =!= "delete").count() == 0L)

      // CUMULATIVE fraction: more small deletes against file a OR into
      // its existing DV until the threshold trips — then the commit
      // materializes the DV away instead of stacking generations
      spark.sql("DELETE FROM graft.autodb.t WHERE day = 'a' AND id < 60") // 59 live (id=5 gone): cum 60/100
      assert(files("a").keySet.exists(_.contains("-m")),
        "crossing the cumulative threshold must materialize the file")
      assert(!new String(java.nio.file.Files.readAllBytes(
        new java.io.File(tdir, "_MANIFEST").toPath), "UTF-8")
        .linesIterator.exists(_.startsWith("#dv=")),
        "the materialized file sheds its DV binding")
      assert(spark.sql("SELECT count(*), min(id) FROM graft.autodb.t WHERE day = 'a'")
        .head() match {
        case r => r.getLong(0) == 40L && r.getLong(1) == 60L
      })
    }
    spark.sql("DROP TABLE graft.autodb.t")
  }

  test("auto DML mode: UPDATE and MERGE — rewrites and reinserted rows share one commit") {
    // the auto decision on the commands that also INSERT: an UPDATE's
    // delete+reinsert pairs must land with the per-file decision in the
    // same version, and a materialized file's kept rows must not drop
    // the reinserted ones
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.autodml")
    spark.sql("DROP TABLE IF EXISTS graft.autodml.t")
    spark.sql("""CREATE TABLE graft.autodml.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin)
    spark.sql("""INSERT INTO graft.autodml.t
                |SELECT /*+ REPARTITION(1) */ id,
                |       CASE WHEN id < 100 THEN 'a' ELSE 'b' END, id
                |FROM range(0, 110)""".stripMargin) // a: 100 rows, b: 10 rows
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = s"$wh/autodml/t"
    val v0 = graft.sources.GraftMaintenance.currentVersion(tdir).get
    withRewriteFraction(0.5) {
      // 2% of file a (DV), 90% of file b (rewrite) — one UPDATE
      spark.sql("""UPDATE graft.autodml.t SET v = v + 1000
                  |WHERE id IN (3, 7) OR id >= 101""".stripMargin)
      assert(graft.sources.GraftMaintenance.currentVersion(tdir)
        .contains(v0 + 1), "auto UPDATE must be ONE commit")
      val manifest = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(tdir, "_MANIFEST").toPath), "UTF-8")
      assert(manifest.linesIterator.exists(l =>
        l.startsWith("#dv=") && l.contains("day%3Da")),
        "the 2%-hit file must take a DV")
      assert(!manifest.linesIterator.exists(l =>
        l.startsWith("#dv=") && l.contains("day%3Db")),
        "the 90%-hit file must be rewritten, not DV-bound")
      // every row present exactly once, updates applied
      assert(spark.sql("SELECT count(*) FROM graft.autodml.t")
        .head().getLong(0) == 110L)
      assert(spark.sql("SELECT sum(v) FROM graft.autodml.t").head().getLong(0)
        == (0L until 110L).map(i =>
          if (i == 3 || i == 7 || i >= 101) i + 1000 else i).sum)
    }

    // MERGE through the same auto plumbing: matched rows update (dense
    // in day=b), unmatched insert — still one commit, still exact
    withRewriteFraction(0.5) {
      spark.range(100, 120).selectExpr("id",
        "CASE WHEN id < 110 THEN 'b' ELSE 'c' END AS day", "id * 10 AS nv")
        .createOrReplaceTempView("autodml_src")
      val v1 = graft.sources.GraftMaintenance.currentVersion(tdir).get
      spark.sql("""MERGE INTO graft.autodml.t t USING autodml_src s
                  |ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET v = s.nv
                  |WHEN NOT MATCHED THEN INSERT (id, day, v) VALUES (s.id, s.day, s.nv)""".stripMargin)
      assert(graft.sources.GraftMaintenance.currentVersion(tdir)
        .contains(v1 + 1), "auto MERGE must be ONE commit")
      assert(spark.sql("SELECT count(*) FROM graft.autodml.t")
        .head().getLong(0) == 120L)
      assert(spark.sql("SELECT sum(v) FROM graft.autodml.t WHERE id >= 100")
        .head().getLong(0) == (100L until 120L).map(_ * 10).sum)
    }
    spark.sql("DROP TABLE graft.autodml.t")
  }

  test("graft catalog DROP COLUMN: field-id tombstones, re-ADD never resurrects, time travel binds") {
    // VERDICT r13 task 5 lifecycle: ADD→write→DROP→re-ADD→write; pre-drop
    // rows read null under the re-added name, later columns never shift
    // slots, time travel across the drop binds old data correctly
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dropdb")
    spark.sql("DROP TABLE IF EXISTS graft.dropdb.t")
    spark.sql("""CREATE TABLE graft.dropdb.t
                |  (id BIGINT, v BIGINT, w STRING, day STRING)
                |  PARTITIONED BY (day)""".stripMargin) // v1
    spark.sql("""INSERT INTO graft.dropdb.t
                |SELECT id, id * 2, CONCAT('w', CAST(id AS STRING)),
                |       CAST(id % 2 AS STRING)
                |FROM range(0, 10)""".stripMargin) // v2: pre-drop generation
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = s"$wh/dropdb/t"
    val vPre = graft.sources.GraftMaintenance.currentVersion(tdir).get

    spark.sql("ALTER TABLE graft.dropdb.t DROP COLUMN v")
    // metadata-only: no data version committed, ledger materialized
    assert(graft.sources.GraftMaintenance.currentVersion(tdir).contains(vPre))
    assert(new java.io.File(tdir, "_COLUMNS").isFile,
      "the first DROP must materialize the column ledger")
    assert(spark.table("graft.dropdb.t").schema.fieldNames.toSeq ==
      Seq("id", "w", "day"))
    // LATER slots never shift: w still binds over pre-drop files
    assert(spark.sql("SELECT max(w) FROM graft.dropdb.t").head().getString(0) == "w9")

    // post-drop generation: the tombstoned slot is padded, not collapsed
    spark.sql("""INSERT INTO graft.dropdb.t
                |SELECT id, CONCAT('x', CAST(id AS STRING)), CAST(id % 2 AS STRING)
                |FROM range(10, 15)""".stripMargin) // v3
    assert(spark.sql("SELECT count(*) FROM graft.dropdb.t").head().getLong(0) == 15L)

    // re-ADD of the dropped NAME = fresh field id: NEVER resurrects the
    // old bytes — every pre-re-add row reads null
    spark.sql("ALTER TABLE graft.dropdb.t ADD COLUMN v BIGINT")
    assert(spark.sql("SELECT count(v) FROM graft.dropdb.t").head().getLong(0) == 0L,
      "a re-added namesake must not resurrect dropped bytes")
    spark.sql("""INSERT INTO graft.dropdb.t
                |SELECT id, CONCAT('y', CAST(id AS STRING)), CAST(id % 2 AS STRING),
                |       id * 100
                |FROM range(15, 18)""".stripMargin) // v4
    assert(spark.sql("SELECT count(v), sum(v) FROM graft.dropdb.t").head() match {
      case r => r.getLong(0) == 3L && r.getLong(1) == (15L + 16L + 17L) * 100L
    })
    assert(spark.sql("SELECT sum(id) FROM graft.dropdb.t").head().getLong(0)
      == (0L until 18L).sum)
    // stats purge: the re-added v's probe is never refuted by the DEAD
    // column's zone maps (old files carried v in [0,18] — the new values
    // are 1500+ and must all surface)
    assert(spark.sql("SELECT count(*) FROM graft.dropdb.t WHERE v >= 1500")
      .head().getLong(0) == 3L)

    // the path read equals the written rows across all three generations
    val got = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", tdir).load().orderBy("id").collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[String]("w"), r.getAs[String]("day"),
          Option(r.getAs[java.lang.Long]("v")).map(_.longValue))).toSeq
    val written = (0L until 18L).map { i =>
      val w = (if (i < 10) "w" else if (i < 15) "x" else "y") + i
      (i, w, (i % 2).toString, if (i >= 15) Some(i * 100) else None)
    }
    assert(got == written)

    // TIME TRAVEL across the drop: the pinned pre-drop snapshot reads
    // under the CURRENT schema — surviving columns bind to their original
    // bytes, the re-added v is null everywhere
    val tt = spark.sql(
      s"""SELECT count(*) n, count(v) nv, max(w) mw
         |FROM graft.dropdb.t VERSION AS OF $vPre""".stripMargin).head()
    assert(tt.getLong(0) == 10L && tt.getLong(1) == 0L && tt.getString(2) == "w9")

    // DML + maintenance preserve the ledger layout: a rewriting delete
    // pads the tombstone, compactSorted re-clusters the whole table, and
    // every generation still reads correctly afterwards
    withRewriteFraction(RewriteAll)(
      spark.sql("DELETE FROM graft.dropdb.t WHERE id = 16"))
    graft.sources.GraftMaintenance.compactSorted(tdir, Seq("id"), spark)
    assert(spark.sql("SELECT count(*), count(v), sum(v) FROM graft.dropdb.t")
      .head() match {
      case r => r.getLong(0) == 17L && r.getLong(1) == 2L &&
        r.getLong(2) == (15L + 17L) * 100L
    })
    assert(spark.sql("SELECT max(w) FROM graft.dropdb.t").head().getString(0) == "y17")

    // guardrails: partition columns and the last data column stay put
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.dropdb.t DROP COLUMN day")
    }
    spark.sql("ALTER TABLE graft.dropdb.t DROP COLUMN v")
    spark.sql("ALTER TABLE graft.dropdb.t DROP COLUMN w")
    intercept[Throwable] { // id is the last data column
      spark.sql("ALTER TABLE graft.dropdb.t DROP COLUMN id")
    }
    assert(spark.sql("SELECT sum(id) FROM graft.dropdb.t").head().getLong(0)
      == (0L until 18L).filterNot(_ == 16L).sum)
    spark.sql("DROP TABLE graft.dropdb.t")
  }

  test("auto rewrite after DROP COLUMN: tombstoned slots serialize empty, dropped bytes never copy forward") {
    // ADVICE r14 low: materializeKept re-emitted the ORIGINAL bytes of
    // tombstoned ledger slots into freshly written rewrite files — the
    // DROP COLUMN contract is that writers emit an empty (null) field at
    // dropped positions, so dropped data ages out with its generation
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tombdb")
    spark.sql("DROP TABLE IF EXISTS graft.tombdb.t")
    spark.sql("CREATE TABLE graft.tombdb.t (id BIGINT, secret STRING, keep STRING)")
    spark.sql("""INSERT INTO graft.tombdb.t
                |SELECT /*+ REPARTITION(1) */ id,
                |  CONCAT('SECRET', CAST(id AS STRING)),
                |  CONCAT('k', CAST(id AS STRING))
                |FROM range(0, 10)""".stripMargin)
    spark.sql("ALTER TABLE graft.tombdb.t DROP COLUMN secret")
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = s"$wh/tombdb/t"
    // 9 of 10 rows deleted: 90% >= the 0.5 threshold -> materialized
    // rewrite (the path that streams old bytes through materializeKept)
    withRewriteFraction(0.5)(spark.sql("DELETE FROM graft.tombdb.t WHERE id < 9"))
    val rewrites = Option(new java.io.File(tdir).listFiles()).get
      .filter(f => f.getName.endsWith(".csv") && f.getName.contains("-m"))
    assert(rewrites.nonEmpty, "the 90%-deleted file must be materialized")
    val content = rewrites.map(f => new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString
    assert(!content.contains("SECRET"),
      s"dropped-column bytes leaked into a rewrite file: $content")
    assert(content.trim == "9,,k9",
      s"tombstoned slot must serialize as an EMPTY field: '$content'")
    assert(spark.sql("SELECT id, keep FROM graft.tombdb.t").collect()
      .map(_.toString).toSeq == Seq("[9,k9]"))
    spark.sql("DROP TABLE graft.tombdb.t")
  }

  test("column-ledger model check: random ADD/RENAME/DROP/write sequences read back exactly") {
    // model-based randomized lifecycle for the field-id ledger: a
    // driver-side model tracks, per row, the value written under each
    // FIELD ID; after any evolution sequence a visible column must read
    // the value its CURRENT incarnation's id was live for — null
    // everywhere else (never another incarnation's bytes)
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ledgerdb")
    val rnd = new scala.util.Random(20260816L)
    for (seqNo <- 0 until 6) {
      spark.sql("DROP TABLE IF EXISTS graft.ledgerdb.t")
      spark.sql("CREATE TABLE graft.ledgerdb.t (key BIGINT, c0 BIGINT, c1 BIGINT)")
      // model state
      var nextId = 2 // c0=0, c1=1 (implicit ledger ids by position)
      // ORDERED like the engine's schema: rename is position-preserving,
      // and INSERT binds the SELECT to the table by position
      var live: Vector[(String, Int)] = Vector("c0" -> 0, "c1" -> 1)
      def idOf(c: String): Int = live.find(_._1 == c).get._2
      var nextName = 2
      var nextKey = 0L
      val rows = scala.collection.mutable.ListBuffer
        .empty[(Long, Map[Int, Long])] // key -> fieldId -> written value
      def value(key: Long, id: Int): Long = key * 1000 + id
      def insertBatch(): Unit = {
        val exprs = live.map { case (c, id) =>
          s"id * 1000 + $id AS $c" }.mkString(", ")
        spark.sql(s"""INSERT INTO graft.ledgerdb.t
                     |SELECT id AS key, $exprs
                     |FROM range($nextKey, ${nextKey + 3})""".stripMargin)
        (nextKey until nextKey + 3).foreach { k =>
          rows += ((k, live.map { case (_, id) => id -> value(k, id) }.toMap))
        }
        nextKey += 3
      }
      insertBatch()
      for (_ <- 0 until 8) {
        rnd.nextInt(4) match {
          case 0 => // ADD
            val name = s"c$nextName"; nextName += 1
            spark.sql(s"ALTER TABLE graft.ledgerdb.t ADD COLUMN $name BIGINT")
            live = live :+ (name -> nextId); nextId += 1
          case 1 if live.size > 1 => // DROP (never the last data column)
            val name = live(rnd.nextInt(live.size))._1
            spark.sql(s"ALTER TABLE graft.ledgerdb.t DROP COLUMN $name")
            live = live.filterNot(_._1 == name)
          case 2 => // RENAME (position-preserving, like the engine)
            val from = live(rnd.nextInt(live.size))._1
            val to = s"c$nextName"; nextName += 1
            spark.sql(s"ALTER TABLE graft.ledgerdb.t RENAME COLUMN $from TO $to")
            live = live.map { case (n, i) => if (n == from) (to, i) else (n, i) }
          case _ => insertBatch()
        }
      }
      insertBatch() // always end with a write through the final layout
      // verify every cell against the model
      val cols = live.map(_._1)
      val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
      val got = spark.read.format("graft.sources.GraftStoreProvider")
        .option("path", s"$wh/ledgerdb/t").load()
        .orderBy("key").collect()
      assert(got.length == rows.length, s"seq $seqNo: row count")
      got.zip(rows.sortBy(_._1)).foreach { case (r, (key, written)) =>
        assert(r.getAs[Long]("key") == key)
        cols.foreach { c =>
          val expect: Option[Long] = written.get(idOf(c))
          val actual = if (r.isNullAt(r.fieldIndex(c))) None
                       else Some(r.getAs[Long](c))
          assert(actual == expect,
            s"seq $seqNo key=$key col=$c (field id ${idOf(c)}): " +
              s"got $actual expected $expect")
        }
      }
    }
    spark.sql("DROP TABLE graft.ledgerdb.t")
  }

  test("graft catalog CTAS: CREATE TABLE AS SELECT creates and loads through the same store") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ctasdb")
    spark.sql("DROP TABLE IF EXISTS graft.ctasdb.squares")
    spark.sql("""CREATE TABLE graft.ctasdb.squares AS
                |SELECT id, id * id AS sq FROM range(100)""".stripMargin)
    assert(spark.sql("SELECT sum(sq) FROM graft.ctasdb.squares").head().getLong(0)
      == (0L until 100L).map(i => i * i).sum)

    // ATOMIC CTAS (StagingTableCatalog, VERDICT r11 task 5): a CTAS
    // whose SELECT fails mid-job publishes NOTHING — no table at the
    // name, no residue in the namespace (metadata never lands before
    // data; the staged dir is aborted)
    val wh = new java.io.File(spark.conf.get("spark.sql.catalog.graft.warehouse"))
    spark.sql("DROP TABLE IF EXISTS graft.ctasdb.broken")
    intercept[Throwable] {
      spark.sql("""CREATE TABLE graft.ctasdb.broken AS
                  |SELECT id, assert_true(id < 50, 'boom') AS chk
                  |FROM range(100)""".stripMargin)
    }
    assert(!spark.catalog.tableExists("graft.ctasdb.broken"))
    assert(!new java.io.File(wh, "ctasdb/broken").exists(),
      "failed CTAS left a table directory")
    // ... and the staging area holds no leaked half-write
    val staging = new java.io.File(wh, "_staging")
    assert(!staging.exists() || staging.listFiles().isEmpty,
      "failed CTAS leaked staged files")
    // the staging area is invisible to catalog listings
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .exists(_.getString(0).contains("_staging")))

    // REPLACE TABLE AS SELECT swaps atomically through the same staging
    spark.sql("""CREATE OR REPLACE TABLE graft.ctasdb.squares AS
                |SELECT id, id * 3 AS sq FROM range(10)""".stripMargin)
    assert(spark.sql("SELECT sum(sq) FROM graft.ctasdb.squares").head().getLong(0)
      == (0L until 10L).map(_ * 3).sum)
    spark.sql("DROP TABLE graft.ctasdb.squares")
  }

  test("partition-value codec is bijective: sentinels, NULs, sentinel-shaped raw values (ADVICE r10)") {
    import graft.sources.GraftStore._
    val values: Seq[String] = Seq(
      null, "", "a b", "day", "a/b=c", "héllo", "%00%00", "%", "%25",
      "  ", // the old "%00%00" empty sentinel collided with this
      "__GRAFT_NULL__", "__GRAFT_EMPTY__", // sentinel-shaped raw values
      "_GRAFT_NULL__", "x__GRAFT_EMPTY__", "\n", "\"q\",v")
    values.foreach { v =>
      assert(decodePartValue(encodePartValue(v)) == v,
        s"round-trip broke for ${Option(v).map(_.map(_.toInt.toHexString))}")
    }
    // injective over the set: distinct raw values -> distinct encodings
    val encs = values.map(encodePartValue)
    assert(encs.distinct.size == values.size, s"codec collision: $encs")
    // encodings are filesystem-safe single path segments
    encs.filter(_ != null).foreach(e =>
      assert(!e.exists(c => c == '/' || c == '\\' || c == ' ' || c.isWhitespace)))
  }

  test("partition pruning uses SQL three-valued logic: Not/Or over a null partition excludes it (ADVICE r10)") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft_store_3vl_") + "/t"
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, null, 30L))
      .toDF("id", "tag", "v")
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).option("partitionBy", "tag")
      .mode("overwrite").save()
    val back = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    // tag != 'a' is NULL (not TRUE) for the null partition; the filter is
    // CONSUMED by the scan, so the scan itself must exclude it
    assert(back.filter(col("tag") =!= "a").select("id").as[Long].collect().toSet
      == Set(2L))
    // Or(EqualTo, Not(EqualTo)): the ADVICE counterexample — null row out
    assert(back.filter(col("tag") === "a" || col("tag") =!= "b")
      .select("id").as[Long].collect().toSet == Set(1L))
    assert(back.filter(!col("tag").isin("a", "zzz")).select("id").as[Long]
      .collect().toSet == Set(2L))
    // the null partition is still reachable where SQL says TRUE
    assert(back.filter(col("tag").isNull || col("tag") === "b")
      .select("id").as[Long].collect().toSet == Set(2L, 3L))
    assert(back.filter(!col("tag").isNotNull).select("id").as[Long]
      .collect().toSet == Set(3L))
    // parity oracle: the same predicates over an in-memory copy of the rows
    val mirror = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, null, 30L))
      .toDF("id", "tag", "v")
    Seq[org.apache.spark.sql.Column](
      col("tag") =!= "a",
      col("tag") === "a" || col("tag") =!= "b",
      !col("tag").isin("a", "zzz"),
      col("tag").isNull || col("tag") === "b",
      !col("tag").isNotNull,
      col("tag") <= "a" || col("tag").isNull,
      !(col("tag") > "a")
    ).foreach { p =>
      assert(back.filter(p).select("id").as[Long].collect().toSet
        == mirror.filter(p).select("id").as[Long].collect().toSet,
        s"three-valued divergence on $p")
    }
  }

  test("graft-store snapshots: pinned scans survive DELETE+GC inside the window, versionAsOf time-travels, expiry is loud") {
    import graft.sources.GraftMaintenance
    val dir = graft.util.TempDirs.create("graft_snap_") + "/t"
    def w(lo: Long, hi: Long, mode: String) =
      spark.range(lo, hi, 1, 2)
        .select(col("id"), (col("id") % 3).cast("string").as("day"),
          (col("id") * 5).as("v"))
        .write.format("graft.sources.GraftStoreProvider")
        .option("path", dir).option("partitionBy", "day").mode(mode).save()
    w(0, 300, "overwrite")
    val v0 = GraftMaintenance.currentVersion(dir).get
    // a never-committed version is refused loudly
    intercept[Throwable] {
      spark.read.format("graft.sources.GraftStoreProvider")
        .option("path", dir).option("versionAsOf", (v0 + 1).toString).load().count()
    }
    // compaction commits the next version; every later commit increments
    GraftMaintenance.compact(dir)
    assert(GraftMaintenance.currentVersion(dir).contains(v0 + 1))
    w(300, 400, "append") // version v0 + 2
    assert(GraftMaintenance.currentVersion(dir).contains(v0 + 2))

    // PIN a scan at version v0 + 2 (plan its partitions), then COMPACT
    // (version v0 + 3, inputs retired) and run retention GC with a real
    // window: the pinned scan must still read ALL 400 rows — the exact
    // race r10's GraftMaintenance doc admitted as a caveat, now a
    // guarantee
    val pinned = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val pinnedRdd = pinned.queryExecution.toRdd
    assert(pinnedRdd.partitions.nonEmpty) // forces planInputPartitions NOW
    GraftMaintenance.compact(dir)
    assert(GraftMaintenance.currentVersion(dir).contains(v0 + 3))
    GraftMaintenance.expireSnapshots(dir, olderThanMs = 300000L) // 5 min window
    assert(pinnedRdd.count() == 400L,
      "a pinned scan lost rows after a concurrent compact + windowed GC")
    // a FRESH scan sees the post-compact snapshot (same rows, new files)
    def read(opts: Map[String, String] = Map.empty) = {
      val r = spark.read.format("graft.sources.GraftStoreProvider").option("path", dir)
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load()
    }
    assert(read().count() == 400L)

    // versionAsOf: v0 + 2 the pre-compact layout, v0 + 1 the first 300 rows
    def asOf(v: Long) = read(Map("versionAsOf" -> v.toString))
    assert(asOf(v0 + 2).count() == 400L)
    assert(asOf(v0 + 1).count() == 300L)
    val v1sum = asOf(v0 + 1).agg(sum("v")).head().getLong(0)
    assert(v1sum == (0L until 300L).map(_ * 5).sum)
    // the pinned version is visible in the plan text
    val tt = asOf(v0 + 1)
    assert(tt.queryExecution.executedPlan.toString.contains(s"VersionAsOf: ${v0 + 1}"))
    // zone maps still skip on a time-travel scan (stats for retired
    // files are retained until GC): probe outside a file range
    assert(asOf(v0 + 2).filter(col("id") >= 350L).count() == 50L)

    // zero-window GC drops expired versions AND their files; expired
    // time travel fails LOUDLY, never a silent fallback
    GraftMaintenance.expireSnapshots(dir, olderThanMs = 0L)
    intercept[Throwable] { asOf(v0 + 1).count() }
    intercept[Throwable] { asOf(v0 + 2).count() }
    // never-committed version: equally loud
    intercept[Throwable] { read(Map("versionAsOf" -> "99")).count() }
    // current reads are untouched by expiry
    assert(read().count() == 400L)
    assert(asOf(v0 + 3).count() == 400L)
  }

  test("a path-written table is versioned from its first commit") {
    import graft.sources.GraftMaintenance
    val dir = graft.util.TempDirs.create("graft_born_") + "/t"
    def w(lo: Long, hi: Long, mode: String) =
      spark.range(lo, hi, 1, 2)
        .select(col("id"), (col("id") % 3).cast("string").as("day"),
          (col("id") * 5).as("v"))
        .write.format("graft.sources.GraftStoreProvider")
        .option("path", dir).option("partitionBy", "day").mode(mode).save()
    def read(opts: (String, String)*) = {
      val r = spark.read.format("graft.sources.GraftStoreProvider").option("path", dir)
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load()
    }
    def dataFiles: Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq.filter(_.isDirectory)
        .flatMap(_.listFiles().filter(_.getName.startsWith("part-")))

    // the first save() commits version 1, and time travel reads it
    w(0, 300, "overwrite")
    assert(GraftMaintenance.currentVersion(dir).contains(1L))
    assert(read("versionAsOf" -> "1").count() == 300L)

    // the manifest is the one visibility rule: a published part file no
    // commit lists (an append killed between publish and commit) is
    // invisible, so an append shows all of its files or none
    val planted = new java.io.File(dir, "day=0/part-deadbeef-00000.csv")
    Files.writeString(planted.toPath, "999999,0\n")
    assert(read().count() == 300L, "an uncommitted part file leaked into a read")
    Files.delete(planted.toPath)
    w(300, 400, "append")
    assert(GraftMaintenance.currentVersion(dir).contains(2L))
    assert(read().count() == 400L)
    assert(read("versionAsOf" -> "1").count() == 300L)

    // a path overwrite RETIRES the old files: a scan pinned before it
    // still reads them, time travel crosses it, and retention GC erases
    // the bytes
    val before = dataFiles
    val pinnedRdd = read().queryExecution.toRdd
    assert(pinnedRdd.partitions.nonEmpty) // forces planInputPartitions NOW
    w(1000, 1030, "overwrite")
    assert(GraftMaintenance.currentVersion(dir).contains(3L))
    assert(read().count() == 30L)
    assert(before.forall(_.isFile), "an overwrite unlinked files a pinned scan still needs")
    assert(pinnedRdd.count() == 400L, "a pinned scan lost rows across an overwrite")
    assert(read("versionAsOf" -> "2").count() == 400L)
    GraftMaintenance.expireSnapshots(dir, olderThanMs = 0L)
    assert(before.forall(!_.isFile), "retention GC left overwritten files on disk")
    intercept[Throwable] { read("versionAsOf" -> "2").count() }
    assert(read().agg(sum("v")).head().getLong(0) == (1000L until 1030L).map(_ * 5).sum)

    // a _SUCCESS without a _MANIFEST is not a table this format wrote:
    // it fails loudly instead of reading as empty
    val bare = graft.util.TempDirs.create("graft_bare_")
    Files.writeString(Paths.get(bare, "_SCHEMA"), "id BIGINT,v BIGINT")
    Files.writeString(Paths.get(bare, "part-x-00000.csv"), "1,10\n")
    Files.writeString(Paths.get(bare, "_SUCCESS"), "")
    val e = intercept[Throwable] {
      spark.read.format("graft.sources.GraftStoreProvider")
        .option("path", bare).load().count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
    assert(messages(e).exists(_.contains("not a versioned graft-store table")),
      messages(e).mkString(" | "))
  }

  test("graft-store SUM/AVG pushdown: answered from _STATS sums, zero file bytes; declines stay honest") {
    val dir = graft.util.TempDirs.create("graft_sumpush_") + "/t"
    def w(lo: Long, hi: Long, mode: String) =
      spark.range(lo, hi, 1, 1)
        .select(col("id"), (col("id").cast("double") / 4).as("v"),
          when(col("id") % 2 === 0, col("id") * 10).as("nul"),
          concat(lit("s"), col("id")).as("s"))
        .write.format("graft.sources.GraftStoreProvider")
        .option("path", dir).mode(mode).save()
    w(0, 1000, "overwrite"); w(1000, 2000, "append"); w(2000, 3000, "append")
    def read() = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    // poison EVERY data file: a stats-answered aggregate opens none
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 3)
    val saved = parts.map(f => f -> Files.readAllBytes(f.toPath)).toMap
    parts.foreach(f => Files.writeString(f.toPath, "zz,zz,zz,zz\n"))

    val agg = read().agg(
      sum("id").as("sid"), sum("v").as("sv"), avg("v").as("av"),
      sum("nul").as("snul"), count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("SUM(id)") && plan.contains("SUM(v)") &&
      plan.contains("SUM(nul)"), plan)
    val r = agg.head()
    assert(r.getLong(0) == (0L until 3000L).sum)
    assert(math.abs(r.getDouble(1) - (0L until 3000L).map(_.toDouble / 4).sum) < 1e-6)
    assert(math.abs(r.getDouble(2) - (0L until 3000L).map(_.toDouble / 4).sum / 3000.0) < 1e-9)
    assert(r.getLong(3) == (0L until 3000L).filter(_ % 2 == 0).map(_ * 10).sum)
    assert(r.getLong(4) == 3000L)

    // an ALL-NULL column sums to SQL NULL, still from stats alone
    val dir2 = graft.util.TempDirs.create("graft_sumnull_") + "/t"
    spark.range(10)
      .select(col("id"), lit(null).cast("long").as("empty"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).mode("overwrite").save()
    new java.io.File(dir2).listFiles().filter(_.getName.startsWith("part-"))
      .foreach(f => Files.writeString(f.toPath, "zz,zz\n"))
    val t2 = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).load()
    val r2 = t2.agg(sum("empty"), count(col("empty")), sum("id")).head()
    assert(r2.isNullAt(0) && r2.getLong(1) == 0L && r2.getLong(2) == 45L)

    // int64 OVERFLOW drops the file's sum -> pushdown DECLINES (honesty
    // over wraparound): the plan carries no pushed SUM and the query
    // reads real rows
    parts.foreach(f => Files.write(f.toPath, saved(f)))
    val dir3 = graft.util.TempDirs.create("graft_sumovf_") + "/t"
    spark.range(0, 2, 1, 1)
      .select((lit(Long.MaxValue) - col("id")).as("big"), col("id"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir3).mode("overwrite").save()
    val t3 = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir3).load()
    val p3 = t3.agg(sum("big")).queryExecution.executedPlan.toString
    assert(!p3.contains("SUM(big)"), p3)
    // ... while a column that did not overflow still pushes
    assert(t3.agg(sum("id")).queryExecution.executedPlan.toString
      .contains("SUM(id)"))

    // a residual row-wise filter gates every partial: DECLINES (same
    // adjudication as COUNT/MIN/MAX), partition filters compose fine
    val pf = read().filter(col("id") >= 1000L).agg(sum("id"))
    assert(!pf.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(pf.head().getLong(0) == (1000L until 3000L).sum)

    // string SUM cannot exist; a DISTINCT sum declines too
    val pd = read().agg(sum_distinct(col("id")))
    assert(!pd.queryExecution.executedPlan.toString.contains("PushedAggregates"))

    // grouped by a partition column: per-directory partials from stats
    val dir4 = graft.util.TempDirs.create("graft_sumgrp_") + "/t"
    spark.range(0, 600, 1, 2)
      .select(col("id"), (col("id") % 2).cast("string").as("day"),
        (col("id") * 3).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir4).option("partitionBy", "day")
      .mode("overwrite").save()
    def allFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case f if f.isFile && f.getName.startsWith("part-") => Seq(f)
        case d2 if d2.isDirectory && d2.getName.contains("=") => allFiles(d2)
        case _ => Seq.empty
      }
    allFiles(new java.io.File(dir4))
      .foreach(f => Files.writeString(f.toPath, "zz,zz\n"))
    val t4 = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir4).load()
    val g = t4.groupBy("day").agg(sum("v").as("sv"), avg("v").as("av"))
      .orderBy("day").collect()
    assert(g.map(_.getLong(1)).toSeq ==
      Seq(0, 1).map(m => (0L until 600L).filter(_ % 2 == m).map(_ * 3).sum))

    // compaction MERGES sums exactly: recompact and re-answer from stats
    val res = graft.sources.GraftMaintenance.compact(dir4)
    assert(res.merged > 0)
    assert(t4.groupBy("day").agg(sum("v")).orderBy("day").collect()
      .map(_.getLong(1)).toSeq == g.map(_.getLong(1)).toSeq)
  }

  test("graft-store row-level DELETE: copy-on-write rewrites only intersecting files, snapshots retire") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cowdb")
    spark.sql("DROP TABLE IF EXISTS graft.cowdb.t")
    spark.sql("""CREATE TABLE graft.cowdb.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin)
    // two range-disjoint inserts -> 2 files per partition dir, each with
    // a tight id zone map
    spark.sql("""INSERT INTO graft.cowdb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 3 AS STRING), id * 2
                |FROM range(0, 150)""".stripMargin)
    spark.sql("""INSERT INTO graft.cowdb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 3 AS STRING), id * 2
                |FROM range(150, 300)""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = new java.io.File(s"$wh/cowdb/t")
    def filesIn(day: String) = new java.io.File(tdir, s"day=$day").listFiles()
      .filter(f => f.getName.startsWith("part-") || f.getName.startsWith("rewrite-"))
      .sortBy(_.getName)
    assert(filesIn("1").length == 2)

    // POISON every file whose id range cannot contain 7 (the second
    // insert's files): the COW DELETE must never open them — zone-map
    // refutation bounds the rewrite set (VERDICT r11 task 2 done-bar)
    val poisoned = Seq("0", "1", "2").flatMap(d => filesIn(d))
      .filter { f =>
        val ids = Files.readString(f.toPath).linesIterator
          .map(_.split(",")(0).toLong).toSeq
        ids.min > 7
      }
    assert(poisoned.length == 3)
    val savedBytes = poisoned.map(f => f -> Files.readAllBytes(f.toPath)).toMap
    poisoned.foreach(f => Files.writeString(f.toPath, "zz,zz\n"))
    // untouched-by-rewrite proof: snapshot the full visible file set
    val day0Before = filesIn("0").map(_.getName).toSeq
    val day2Before = filesIn("2").map(_.getName).toSeq

    val vBefore = graft.sources.GraftMaintenance
      .currentVersion(tdir.getAbsolutePath).get
    withRewriteFraction(RewriteAll)( // the test proves rewrite mechanics
      spark.sql("DELETE FROM graft.cowdb.t WHERE id = 7")) // data predicate -> rewrite
    assert(graft.sources.GraftMaintenance
      .currentVersion(tdir.getAbsolutePath).get > vBefore)

    // the row is gone; every other row is intact
    assert(spark.sql("SELECT count(*) FROM graft.cowdb.t").head().getLong(0) == 299L)
    assert(spark.sql("SELECT count(*) FROM graft.cowdb.t WHERE id = 7")
      .head().getLong(0) == 0L)
    poisoned.foreach(f => Files.write(f.toPath, savedBytes(f)))
    assert(spark.sql("SELECT sum(v) FROM graft.cowdb.t WHERE id <> 7 OR id IS NULL")
      .head().getLong(0) == (0L until 300L).filter(_ != 7L).map(_ * 2).sum)

    // ONLY day=1's first file was rewritten: day=0/day=2 keep their
    // exact file sets; day=1 holds one rewrite-* plus the untouched
    // second-range file
    assert(filesIn("0").map(_.getName).toSeq == day0Before)
    assert(filesIn("2").map(_.getName).toSeq == day2Before)
    val day1 = filesIn("1").map(_.getName)
    assert(day1.count(_.startsWith("rewrite-")) == 1, day1.mkString(","))

    // the pre-DELETE snapshot still shows the row (files were retired,
    // not unlinked); count(*) answers from stats — zero parses
    val tt = spark.sql(
      s"SELECT count(*) FROM graft.cowdb.t VERSION AS OF $vBefore")
    assert(tt.head().getLong(0) == 300L)

    // a predicate no file can match rewrites NOTHING (zone maps refute
    // everywhere): same file sets, version may advance but content holds
    val before = Seq("0", "1", "2").map(d => filesIn(d).map(_.getName).toSeq)
    withRewriteFraction(RewriteAll)(
      spark.sql("DELETE FROM graft.cowdb.t WHERE id = 999999"))
    assert(Seq("0", "1", "2").map(d => filesIn(d).map(_.getName).toSeq) == before)
    assert(spark.sql("SELECT count(*) FROM graft.cowdb.t").head().getLong(0) == 299L)

    // mixed partition+data predicate: a rewrite bounded to day=0's first file
    withRewriteFraction(RewriteAll)(
      spark.sql("DELETE FROM graft.cowdb.t WHERE day = '0' AND id < 10"))
    assert(spark.sql("SELECT count(*) FROM graft.cowdb.t").head().getLong(0)
      == 299L - 4L) // ids 0,3,6,9
    assert(spark.sql("SELECT count(*) FROM graft.cowdb.t WHERE day = '0'")
      .head().getLong(0) == 100L - 4L)
    // day=2 still untouched through both deletes
    assert(filesIn("2").map(_.getName).toSeq == day2Before)

    // physical erasure: retention GC removes the retired originals
    graft.sources.GraftMaintenance.expireSnapshots(tdir.getAbsolutePath,
      olderThanMs = 0L)
    intercept[Throwable] {
      spark.sql(s"SELECT count(*) FROM graft.cowdb.t VERSION AS OF $vBefore")
        .collect()
    }
    assert(spark.sql("SELECT count(*) FROM graft.cowdb.t").head().getLong(0) == 295L)
    spark.sql("DROP TABLE graft.cowdb.t")
  }

  test("graft-store merge-on-read DELETE: deletion vectors, zero data-file rewrites, snapshot reads") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dvdb")
    spark.sql("DROP TABLE IF EXISTS graft.dvdb.t")
    spark.sql("""CREATE TABLE graft.dvdb.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin)
    spark.sql("""INSERT INTO graft.dvdb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 2 AS STRING), id * 2
                |FROM range(0, 200)""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = new java.io.File(s"$wh/dvdb/t")
    def filesIn(day: String) = new java.io.File(tdir, s"day=$day").listFiles()
      .filter(f => f.getName.startsWith("part-") || f.getName.startsWith("rewrite-") ||
        f.getName.startsWith("merged-"))
      .map(f => (f.getName, f.lastModified(), f.length())).sortBy(_._1).toSeq
    def dvFiles = tdir.listFiles().filter(_.getName.startsWith("dv-")).map(_.getName).toSeq
    val before = Seq("0", "1").map(filesIn)
    val vBefore = graft.sources.GraftMaintenance.currentVersion(tdir.getAbsolutePath).get

    withRewriteFraction(DvOnly) {
      // the r12 done-bar: a 1-row DELETE in a large file rewrites NOTHING
      spark.sql("DELETE FROM graft.dvdb.t WHERE id = 7")
      assert(Seq("0", "1").map(filesIn) == before,
        "merge-on-read DELETE must not touch any data file (names/mtimes/sizes)")
      assert(dvFiles.nonEmpty, "a deletion vector sidecar must be committed")
      assert(spark.sql("SELECT count(*) FROM graft.dvdb.t").head().getLong(0) == 199L)
      assert(spark.sql("SELECT count(*) FROM graft.dvdb.t WHERE id = 7")
        .head().getLong(0) == 0L)

      // the path read under a DV equals the written rows minus the deleted one
      val cols = spark.read.format("graft.sources.GraftStoreProvider")
        .option("path", tdir.getAbsolutePath).load()
      assert(cols.orderBy("id").collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[String]("day"), r.getAs[Long]("v"))).toSeq ==
        (0L until 200L).filter(_ != 7L).map(i => (i, (i % 2).toString, i * 2)))
      assert(cols.count() == 199L)

      // the pre-DELETE snapshot never sees the DV (it binds to versions)
      assert(spark.sql(s"SELECT count(*) FROM graft.dvdb.t VERSION AS OF $vBefore")
        .head().getLong(0) == 200L)

      // CUMULATIVE generations: a second DELETE on the same file ORs into
      // the previous bits; physical ordinals stay stable
      spark.sql("DELETE FROM graft.dvdb.t WHERE id = 9 OR id = 11")
      assert(Seq("0", "1").map(filesIn) == before, "still zero rewrites")
      assert(spark.sql("SELECT count(*) FROM graft.dvdb.t").head().getLong(0) == 197L)
      assert(spark.sql("SELECT sum(v) FROM graft.dvdb.t").head().getLong(0)
        == (0L until 200L).filterNot(Set(7L, 9L, 11L)).map(_ * 2).sum)

      // COUNT pushdown stays metadata-only under DVs (live rows =
      // physical rows − DV cardinality): poison every data file — the
      // grouped count must answer from stats + bitsets without opening
      // one. VALUE aggregates (min/max/sum) decline; LIMIT still returns
      // full rows (DV'd zone-map counts contribute 0)
      val dataFs = Seq("0", "1").flatMap(d =>
        new java.io.File(tdir, s"day=$d").listFiles().filter(f =>
          f.getName.startsWith("part-")))
      val saved = dataFs.map(f => f -> Files.readAllBytes(f.toPath)).toMap
      dataFs.foreach(f => Files.writeString(f.toPath, "zz,zz\n"))
      val agg = spark.read.format("graft.sources.GraftStoreProvider")
        .option("path", tdir.getAbsolutePath).load()
        .groupBy("day").agg(count(lit(1)).as("n"))
      assert(agg.queryExecution.executedPlan.toString.contains("COUNT(*)"),
        "COUNT(*) must stay pushed under deletion vectors")
      assert(agg.collect().map(_.getLong(1)).sum == 197L)
      dataFs.foreach(f => Files.write(f.toPath, saved(f)))
      val vagg = spark.read.format("graft.sources.GraftStoreProvider")
        .option("path", tdir.getAbsolutePath).load().agg(min("v"))
      assert(!vagg.queryExecution.executedPlan.toString.contains("PushedAggregates: [MIN"),
        "value aggregates must decline under deletion vectors")
      assert(vagg.head().getLong(0) ==
        (0L until 200L).filterNot(Set(7L, 9L, 11L)).map(_ * 2).min)
      assert(spark.sql("SELECT id FROM graft.dvdb.t LIMIT 150").count() == 150L)

      // compactSorted MATERIALIZES the DVs away (it reads through the
      // scan); retention GC then sweeps the unreferenced generations
      graft.sources.GraftMaintenance.compactSorted(
        tdir.getAbsolutePath, Seq("id"), spark)
      assert(spark.sql("SELECT count(*) FROM graft.dvdb.t").head().getLong(0) == 197L)
      graft.sources.GraftMaintenance.expireSnapshots(
        tdir.getAbsolutePath, olderThanMs = 0L, strayGraceMs = 0L)
      assert(dvFiles.isEmpty, "materialized DV generations must be GC'd")
      assert(spark.sql("SELECT count(*) FROM graft.dvdb.t").head().getLong(0) == 197L)
      assert(spark.sql("SELECT sum(v) FROM graft.dvdb.t").head().getLong(0)
        == (0L until 200L).filterNot(Set(7L, 9L, 11L)).map(_ * 2).sum)
      spark.sql("DROP TABLE graft.dvdb.t")
    }
  }

  test("graft-store changes read: per-version changelog, COW/DV delete attribution, compaction silent") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cdcdb")
    spark.sql("DROP TABLE IF EXISTS graft.cdcdb.t")
    spark.sql("""CREATE TABLE graft.cdcdb.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin) // v1: empty
    spark.sql("""INSERT INTO graft.cdcdb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 2 AS STRING), id * 2
                |FROM range(0, 100)""".stripMargin) // v2
    spark.sql("""INSERT INTO graft.cdcdb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 2 AS STRING), id * 2
                |FROM range(100, 200)""".stripMargin) // v3
    withRewriteFraction(RewriteAll)(
      spark.sql("DELETE FROM graft.cdcdb.t WHERE id = 7")) // v4: rewrite
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/cdcdb/t"
    import graft.sources.GraftCDC
    assert(graft.sources.GraftMaintenance.currentVersion(tpath).contains(4L))

    // an append version's changes: exactly its inserted rows
    val c12 = GraftCDC.changes(spark, tpath, 1L, Some(2L))
    assert(c12.count() == 100L)
    assert(c12.filter(col("_change_type") =!= "insert").count() == 0L)
    assert(c12.agg(sum("id")).head().getLong(0) == (0L until 100L).sum)

    // rewrite delete attribution (r15 pair-diff): the commit recorded the
    // old -> new pairing, so the raw changelog emits ONLY the deleted
    // row — kept rows cancel in the reader's merge-diff, never reaching
    // the consumer (pre-r15 they arrived as delete+insert pairs that
    // netChangesOf had to shuffle away)
    val raw34 = GraftCDC.changes(spark, tpath, 3L, Some(4L))
    assert(raw34.count() == 1L,
      "a paired rewrite version's raw changelog must be exactly the churn")
    assert(raw34.filter(col("_change_type") === "delete" && col("id") === 7L)
      .count() == 1L)
    val net34 = GraftCDC.netChanges(spark, tpath, 3L, Some(4L)).collect()
    assert(net34.length == 1)
    assert(net34.head.getAs[String]("_change_type") == "delete")
    assert(net34.head.getAs[Long]("id") == 7L)
    assert(net34.head.getAs[Long]("_commit_version") == 4L)

    // compaction is DATA-NEUTRAL: its version emits NO change rows
    graft.sources.GraftMaintenance.compact(tpath, targetBytes = 1L << 30) // v5
    assert(graft.sources.GraftMaintenance.currentVersion(tpath).contains(5L))
    assert(GraftCDC.changes(spark, tpath, 4L, Some(5L)).count() == 0L)

    // the whole-range NET changelog equals the per-version pieces
    val netAll = GraftCDC.netChanges(spark, tpath, 0L, Some(5L))
    assert(netAll.count() == 201L) // 200 inserts + 1 delete
    assert(netAll.filter(col("_change_type") === "delete").count() == 1L)

    // a deletion-vector delete's changes are the DV delta: exactly the
    // newly-deleted ordinals, nothing else (no file was rewritten)
    withRewriteFraction(DvOnly)(
      spark.sql("DELETE FROM graft.cdcdb.t WHERE id = 11 OR id = 13")) // v6
    val dv56 = GraftCDC.changes(spark, tpath, 5L, Some(6L)).collect()
    assert(dv56.map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id")))
      .toSet == Set(("delete", 11L), ("delete", 13L)))

    // retention GC expiring the range makes the read fail LOUDLY —
    // never a silent partial changelog
    graft.sources.GraftMaintenance.expireSnapshots(tpath, olderThanMs = 0L,
      strayGraceMs = 0L)
    intercept[Throwable] {
      GraftCDC.changes(spark, tpath, 1L, Some(2L)).collect()
    }
    spark.sql("DROP TABLE graft.cdcdb.t")
  }

  test("graft-store CDC realizes incremental view maintenance: delta-applied view equals recompute") {
    // the r12 verdict's stated payoff for the changes read: the IVM
    // algebra (q108/q220) runs against the store's changelog instead of
    // recomputing — view(vB) = view(vA) + signed aggregate of the net
    // changes in (vA, vB], across rewriting deletes AND DV updates
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ivmdb")
    spark.sql("DROP TABLE IF EXISTS graft.ivmdb.t")
    spark.sql("CREATE TABLE graft.ivmdb.t (id BIGINT, k BIGINT, v BIGINT)")
    spark.sql(
      "INSERT INTO graft.ivmdb.t SELECT id, id % 7, id * 3 FROM range(0, 500)") // v2
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/ivmdb/t"
    val vA = graft.sources.GraftMaintenance.currentVersion(tpath).get

    // the materialized view at vA: SUM(v), COUNT(*) per k
    val viewA = spark.table("graft.ivmdb.t")
      .groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // three change generations: append, rewriting delete, DV update
    spark.sql(
      "INSERT INTO graft.ivmdb.t SELECT id, id % 7, id * 3 FROM range(500, 800)")
    withRewriteFraction(RewriteAll)(
      spark.sql("DELETE FROM graft.ivmdb.t WHERE id % 13 = 5"))
    withRewriteFraction(DvOnly)(
      spark.sql("UPDATE graft.ivmdb.t SET v = v + 1000000 WHERE id % 17 = 2"))
    val vB = graft.sources.GraftMaintenance.currentVersion(tpath).get

    // MAINTAIN: apply the signed net changes to the old view state
    val delta = graft.sources.GraftCDC.netChanges(spark, tpath, vA, Some(vB))
      .groupBy("k")
      .agg(sum(when(col("_change_type") === "insert", col("v"))
        .otherwise(-col("v"))).as("dv"),
        sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)).as("dn"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val maintained = (viewA.keySet ++ delta.keySet).map { k =>
      val (sv, n) = viewA.getOrElse(k, (0L, 0L))
      val (dv, dn) = delta.getOrElse(k, (0L, 0L))
      k -> (sv + dv, n + dn)
    }.toMap

    // ... equals the full recompute at vB
    val recomputed = spark.table("graft.ivmdb.t")
      .groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(maintained == recomputed,
      s"IVM drift: maintained=$maintained recomputed=$recomputed")
    spark.sql("DROP TABLE graft.ivmdb.t")
  }

  test("CDC metadata table: pure-SQL changes read equals reader options; version bound narrows planning") {
    // VERDICT r13 task 3: `SELECT * FROM cat.db.t.changes` — the
    // Iceberg-shaped identifier — must reach the changelog with ZERO
    // reader options, and a `_commit_version` bound must push into
    // version-range PLANNING (not just row filtering), so a bounded SQL
    // read never touches retention-GC-expired history outside its slice
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.metadb")
    spark.sql("DROP TABLE IF EXISTS graft.metadb.t")
    spark.sql("""CREATE TABLE graft.metadb.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin) // v1
    spark.sql("""INSERT INTO graft.metadb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 2 AS STRING), id * 2
                |FROM range(0, 60)""".stripMargin) // v2
    spark.sql("""INSERT INTO graft.metadb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 2 AS STRING), id * 2
                |FROM range(60, 100)""".stripMargin) // v3
    withRewriteFraction(RewriteAll)(
      spark.sql("DELETE FROM graft.metadb.t WHERE id = 7")) // v4: rewrite
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/metadb/t"

    def key(r: org.apache.spark.sql.Row): (String, Long, Long) =
      (r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"),
        r.getAs[Long]("id"))
    // SQL surface ≡ reader-options surface, same slice
    val viaSql = spark.sql(
      """SELECT * FROM graft.metadb.t.changes
        |WHERE _commit_version > 2 AND _commit_version <= 4""".stripMargin)
    val viaOpts = graft.sources.GraftCDC.changes(spark, tpath, 2L, Some(4L))
    assert(viaSql.collect().map(key).sorted.toSeq ==
      viaOpts.collect().map(key).sorted.toSeq)
    assert(viaSql.columns.sorted.toSeq == viaOpts.columns.sorted.toSeq)
    // and the net-changes cancellation composes with the SQL surface
    val netSql = graft.sources.GraftCDC.netChangesOf(viaSql)
    assert(netSql.filter(col("_change_type") === "delete").collect()
      .map(_.getAs[Long]("id")).toSeq == Seq(7L))

    // ADVICE r14 medium: an upper bound PAST the table's history CLAMPS
    // to the current version — it must not plan never-committed
    // manifests and throw (the same query without pushdown succeeds)
    val clamped = spark.sql(
      "SELECT * FROM graft.metadb.t.changes WHERE _commit_version <= 100")
    assert(clamped.collect().map(key).sorted.toSeq ==
      graft.sources.GraftCDC.changes(spark, tpath, 0L)
        .collect().map(key).sorted.toSeq)
    assert(spark.sql(
      "SELECT count(*) FROM graft.metadb.t.changes WHERE _commit_version = 100")
      .head().getLong(0) == 0L)
    // ...but the EXPLICIT changesTo option does NOT clamp (ADVICE r15
    // low): a programmatic end version past the table's history means
    // the caller's bookkeeping disagrees with the table (rolled back or
    // recreated) — silently truncating the slice would hide it
    val pastErr = intercept[Throwable] {
      graft.sources.GraftCDC.changes(spark, tpath, 2L, Some(99L)).collect()
    }
    assert(pastErr.getMessage != null && pastErr.getMessage.contains("changesTo"),
      s"explicit changesTo past history must fail loudly, got: ${pastErr.getMessage}")
    // ADVICE r14 low: the changes table is version-RANGE addressed — a
    // snapshot pin would silently resolve to the full current changelog,
    // so it is refused loudly
    val pinErr = intercept[Throwable] {
      spark.sql("SELECT * FROM graft.metadb.t.changes VERSION AS OF 3").collect()
    }
    assert(pinErr.getMessage != null &&
      pinErr.getMessage.contains("_commit_version"),
      s"expected a loud range-addressing error, got: ${pinErr.getMessage}")

    // a real table named `changes` SHADOWS the metadata table
    spark.sql("CREATE TABLE graft.metadb.changes (x BIGINT, y BIGINT)")
    spark.sql("INSERT INTO graft.metadb.changes SELECT id, id FROM range(0, 5)")
    assert(spark.sql("SELECT * FROM graft.metadb.changes").columns.toSeq ==
      Seq("x", "y"))
    spark.sql("DROP TABLE graft.metadb.changes")

    // PLANNING proof: expire everything below the current version, then
    // a bounded SQL read over the live range still plans (the pushed
    // bound keeps GC'd versions out of planInputPartitions), while an
    // unbounded read over the dead range fails loudly
    spark.sql("INSERT INTO graft.metadb.t SELECT id, CAST(id % 2 AS STRING), id FROM range(100, 110)") // v5
    // keepVersions = 2: v4+v5 manifests survive (diffing v5 needs v4 as
    // its baseline), everything below expires — files AND manifests
    graft.sources.GraftMaintenance.expireSnapshots(tpath, olderThanMs = 0L,
      keepVersions = 2, strayGraceMs = 0L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.metadb.t.changes WHERE _commit_version > 4")
      .head().getLong(0) == 10L)
    intercept[Throwable] {
      spark.sql("SELECT count(*) FROM graft.metadb.t.changes").collect()
    }
    spark.sql("DROP TABLE graft.metadb.t")
  }

  test("expireSnapshots floorVersion: a checkpointed version range survives aggressive GC; without the floor the lag fails loudly") {
    // VERDICT r13 task 6 — the retention-vs-streaming-reader contract:
    // wire floorVersion to the oldest active checkpoint offset and every
    // version from there up stays plannable regardless of the age window
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.floordb")
    spark.sql("DROP TABLE IF EXISTS graft.floordb.t")
    spark.sql("""CREATE TABLE graft.floordb.t (id BIGINT, day STRING)
                |PARTITIONED BY (day)""".stripMargin) // v1
    spark.sql("INSERT INTO graft.floordb.t SELECT /*+ REPARTITION(1) */ id, 'a' FROM range(0, 50)") // v2
    spark.sql("INSERT INTO graft.floordb.t SELECT /*+ REPARTITION(1) */ id, 'b' FROM range(0, 30)") // v3
    spark.sql("DELETE FROM graft.floordb.t WHERE day = 'a'") // v4: retires v2's file
    spark.sql("INSERT INTO graft.floordb.t SELECT /*+ REPARTITION(1) */ id, 'c' FROM range(0, 20)") // v5
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/floordb/t"
    assert(graft.sources.GraftMaintenance.currentVersion(tpath).contains(5L))

    // a checkpoint sits at offset 3: GC with the floor keeps (3, 5]
    // plannable — v3's manifest (the diff baseline), v4's retired file
    // (the delete's row source), v5 — even at olderThanMs = 0
    graft.sources.GraftMaintenance.expireSnapshots(tpath, olderThanMs = 0L,
      keepVersions = 1, strayGraceMs = 0L, floorVersion = Some(3L))
    val net = graft.sources.GraftCDC.netChanges(spark, tpath, 3L, Some(5L))
    assert(net.filter(col("_change_type") === "delete").count() == 50L)
    assert(net.filter(col("_change_type") === "insert").count() == 20L)
    // ... while history BELOW the floor expired normally
    intercept[Throwable] {
      graft.sources.GraftCDC.changes(spark, tpath, 1L, Some(2L)).collect()
    }

    // without the floor, the same window expires the range a lagging
    // reader needs — and the failure is LOUD, never a silent gap
    graft.sources.GraftMaintenance.expireSnapshots(tpath, olderThanMs = 0L,
      keepVersions = 1, strayGraceMs = 0L)
    intercept[Throwable] {
      graft.sources.GraftCDC.changes(spark, tpath, 3L, Some(5L)).collect()
    }
    assert(spark.sql("SELECT count(*) FROM graft.floordb.t").head().getLong(0)
      == 50L, "the CURRENT snapshot always survives GC")
    spark.sql("DROP TABLE graft.floordb.t")
  }

  test("GraftIVM refresh: input is the changelog, not the table; refreshed view equals recompute") {
    // VERDICT r13 task 2's done-bar: the registered IVM operator's
    // refresh must consume exactly the net changelog (O(changed rows)),
    // never rescan the base table
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ivm2db")
    spark.sql("DROP TABLE IF EXISTS graft.ivm2db.t")
    spark.sql("DROP TABLE IF EXISTS graft.ivm2db.view")
    spark.sql("CREATE TABLE graft.ivm2db.t (id BIGINT, k BIGINT, v BIGINT)")
    spark.sql(
      "INSERT INTO graft.ivm2db.t SELECT id, id % 5, id * 3 FROM range(0, 1000)") // v2
    spark.sql("CREATE TABLE graft.ivm2db.view (k BIGINT, n BIGINT, sv BIGINT)")
    spark.sql("""INSERT INTO graft.ivm2db.view
                |SELECT k, count(*), sum(v) FROM graft.ivm2db.t GROUP BY k""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/ivm2db/t"
    val v0 = graft.sources.GraftMaintenance.currentVersion(tpath).get

    // small mixed DML batch against the 1000-row base
    spark.sql("INSERT INTO graft.ivm2db.t SELECT id, id % 5, id * 3 FROM range(1000, 1020)")
    spark.sql("DELETE FROM graft.ivm2db.t WHERE id >= 990 AND id < 1000")
    withRewriteFraction(DvOnly)(
      spark.sql("UPDATE graft.ivm2db.t SET v = v + 7 WHERE id < 5"))

    val changelog = spark.sql(
      s"SELECT * FROM graft.ivm2db.t.changes WHERE _commit_version > $v0")
    val ivm2 = graft.sources.GraftIVM.View("graft.ivm2db.view", Seq("k"), "n",
      sums = Seq("sv" -> "v"))
    val consumed = graft.sources.GraftIVM.refresh(changelog, ivm2, None).consumed
    // input size = the NET changelog: 20 inserts + 10 deletes + 5
    // update pairs (delete+insert) = 40 rows — not the 1010-row table
    assert(consumed == 40L,
      s"refresh consumed $consumed rows; must equal the changelog size")

    val refreshed = spark.table("graft.ivm2db.view").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val recomputed = spark.table("graft.ivm2db.t")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(refreshed == recomputed,
      s"IVM refresh drift: refreshed=$refreshed recomputed=$recomputed")

    // a group whose count reaches zero DISAPPEARS from the view
    spark.sql("DELETE FROM graft.ivm2db.t WHERE k = 3")
    val v1 = graft.sources.GraftMaintenance.currentVersion(tpath).get
    graft.sources.GraftIVM.refresh(
      spark.sql(s"SELECT * FROM graft.ivm2db.t.changes WHERE _commit_version >= $v1"),
      ivm2, None)
    assert(!spark.table("graft.ivm2db.view").collect().exists(_.getLong(0) == 3L),
      "an emptied group must leave the maintained view")
    spark.sql("DROP TABLE graft.ivm2db.t")
    spark.sql("DROP TABLE graft.ivm2db.view")
  }

  test("touched-group IVM refresh: MIN/MAX survive a max-killing delete; base input ∝ touched groups") {
    // VERDICT r16 task 2's done-bar: a DELETE that removes a group's
    // current MAX refreshes to the correct runner-up (no signed delta
    // can do that), the refresh re-aggregates ONLY the groups present
    // in the changelog (base input pinned at the touched groups' rows,
    // never the table), and untouched groups' rows carry through
    // verbatim — including a NULL group key on both sides.
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.xivmdb")
    spark.sql("DROP TABLE IF EXISTS graft.xivmdb.t")
    spark.sql("DROP TABLE IF EXISTS graft.xivmdb.view")
    spark.sql("CREATE TABLE graft.xivmdb.t (id BIGINT, k BIGINT, v BIGINT)")
    spark.sql("""INSERT INTO graft.xivmdb.t
                |SELECT id, CASE WHEN id % 100 = 99 THEN CAST(NULL AS BIGINT)
                |               ELSE id % 10 END, id
                |FROM range(0, 1000)""".stripMargin) // v2: 10 groups + null group
    spark.sql("""CREATE TABLE graft.xivmdb.view
                |  (k BIGINT, n BIGINT, sv BIGINT, mn BIGINT, mx BIGINT)""".stripMargin)
    spark.sql("""INSERT INTO graft.xivmdb.view
                |SELECT k, count(*), sum(v), min(v), max(v)
                |FROM graft.xivmdb.t GROUP BY k""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/xivmdb/t"
    val v0 = graft.sources.GraftMaintenance.currentVersion(tpath).get

    // the churn: kill group 4's current max (994) and its whole top
    // decile; bump group 2's values (DV update); add a brand-new group;
    // delete part of the NULL group (its max 999 goes too)
    spark.sql("DELETE FROM graft.xivmdb.t WHERE k = 4 AND v >= 900")
    withRewriteFraction(DvOnly)(
      spark.sql("UPDATE graft.xivmdb.t SET v = v - 7 WHERE k = 2 AND v < 100"))
    spark.sql("INSERT INTO graft.xivmdb.t SELECT id, 77L, id FROM range(5000, 5020)")
    spark.sql("DELETE FROM graft.xivmdb.t WHERE k IS NULL AND v > 500")

    def recompute(): Map[Option[Long], (Long, Long, Long, Long)] =
      spark.sql("""SELECT k, count(*) n, sum(v) sv, min(v) mn, max(v) mx
                  |FROM graft.xivmdb.t GROUP BY k""".stripMargin).collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def viewState(): Map[Option[Long], (Long, Long, Long, Long)] =
      spark.table("graft.xivmdb.view").collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

    val changelog = spark.sql(
      s"SELECT * FROM graft.xivmdb.t.changes WHERE _commit_version > $v0")
    val xview = graft.sources.GraftIVM.View("graft.xivmdb.view", Seq("k"), "n",
      sums = Seq("sv" -> "v"), mins = Seq("mn" -> "v"), maxs = Seq("mx" -> "v"))
    val baseRows = graft.sources.GraftIVM.refresh(changelog, xview,
      Some(spark.table("graft.xivmdb.t"))).baseRows
    val expect = recompute()
    assert(viewState() == expect,
      s"touched-group refresh drift: ${viewState()} vs $expect")
    // the max-killing delete found the runner-up
    assert(expect(Some(4L))._4 == 894L && viewState()(Some(4L))._4 == 894L)
    assert(viewState()(None)._4 == 499L, "the null group's new max")
    // base INPUT ∝ touched groups (k ∈ {2, 4, 77, NULL}), never the table
    val touchedRows = spark.sql(
      "SELECT count(*) FROM graft.xivmdb.t WHERE k IN (2, 4, 77) OR k IS NULL")
      .head().getLong(0)
    assert(baseRows == touchedRows,
      s"refresh scanned $baseRows base rows; the touched groups hold only $touchedRows")

    // a touched group that empties LEAVES the view (no zombie row)
    val v1 = graft.sources.GraftMaintenance.currentVersion(tpath).get
    spark.sql("DELETE FROM graft.xivmdb.t WHERE k = 77")
    graft.sources.GraftIVM.refresh(
      spark.sql(s"SELECT * FROM graft.xivmdb.t.changes WHERE _commit_version > $v1"),
      xview, Some(spark.table("graft.xivmdb.t")))
    assert(viewState() == recompute())
    assert(!viewState().contains(Some(77L)), "the emptied group must leave")

    // composite group key exercises the broadcast-semi/anti branch
    spark.sql("DROP TABLE IF EXISTS graft.xivmdb.t2")
    spark.sql("DROP TABLE IF EXISTS graft.xivmdb.view2")
    spark.sql("CREATE TABLE graft.xivmdb.t2 (id BIGINT, k BIGINT, k2 BIGINT, v BIGINT)")
    spark.sql("""INSERT INTO graft.xivmdb.t2
                |SELECT id, k, id % 3, v FROM graft.xivmdb.t""".stripMargin)
    spark.sql("""CREATE TABLE graft.xivmdb.view2
                |  (k BIGINT, k2 BIGINT, n BIGINT, sv BIGINT, mx BIGINT)""".stripMargin)
    spark.sql("""INSERT INTO graft.xivmdb.view2
                |SELECT k, k2, count(*), sum(v), max(v)
                |FROM graft.xivmdb.t2 GROUP BY k, k2""".stripMargin)
    val t2path = s"$wh/xivmdb/t2"
    val v2 = graft.sources.GraftMaintenance.currentVersion(t2path).get
    spark.sql("DELETE FROM graft.xivmdb.t2 WHERE k = 5 AND k2 = 1 AND v > 800")
    graft.sources.GraftIVM.refresh(
      spark.sql(s"SELECT * FROM graft.xivmdb.t2.changes WHERE _commit_version > $v2"),
      graft.sources.GraftIVM.View("graft.xivmdb.view2", Seq("k", "k2"), "n",
        sums = Seq("sv" -> "v"), maxs = Seq("mx" -> "v")),
      Some(spark.table("graft.xivmdb.t2")))
    val exp2 = spark.sql(
      """SELECT k, k2, count(*) n, sum(v) sv, max(v) mx
        |FROM graft.xivmdb.t2 GROUP BY k, k2""".stripMargin).collect()
      .map(r => (r.get(0), r.get(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val got2 = spark.table("graft.xivmdb.view2").collect()
      .map(r => (r.get(0), r.get(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got2 == exp2, s"composite-key touched-group drift")
    spark.sql("DROP TABLE graft.xivmdb.t")
    spark.sql("DROP TABLE graft.xivmdb.t2")
    spark.sql("DROP TABLE graft.xivmdb.view")
    spark.sql("DROP TABLE graft.xivmdb.view2")
  }

  test("touched-group IVM refresh: a batch touching > InListKeyLimit groups refreshes exactly through the un-hinted semi-join path") {
    // VERDICT r16 item 6's done-bar: the key-prune fallback above the
    // IN-list probe limit (1000 keys) must NOT force-broadcast an
    // unbounded changelog key set — the join is left un-hinted (AQE
    // broadcasts it when small, shuffles when not) and the refresh
    // stays exact. 1500 touched groups overflow the probe, so this
    // batch exercises exactly that path, on a single-column key.
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bigivmdb")
    spark.sql("DROP TABLE IF EXISTS graft.bigivmdb.t")
    spark.sql("DROP TABLE IF EXISTS graft.bigivmdb.view")
    spark.sql("CREATE TABLE graft.bigivmdb.t (id BIGINT, k BIGINT, v BIGINT)")
    spark.sql("""INSERT INTO graft.bigivmdb.t
                |SELECT id, id % 1500, id FROM range(0, 3000)""".stripMargin)
    spark.sql("""CREATE TABLE graft.bigivmdb.view
                |  (k BIGINT, n BIGINT, sv BIGINT, mx BIGINT)""".stripMargin)
    spark.sql("""INSERT INTO graft.bigivmdb.view
                |SELECT k, count(*), sum(v), max(v)
                |FROM graft.bigivmdb.t GROUP BY k""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val v0 = graft.sources.GraftMaintenance.currentVersion(s"$wh/bigivmdb/t").get
    // churn every group: 1500 touched keys > InListKeyLimit (1000)
    spark.sql("""INSERT INTO graft.bigivmdb.t
                |SELECT id, id % 1500, id FROM range(3000, 4500)""".stripMargin)
    graft.sources.GraftIVM.refresh(
      spark.sql(s"SELECT * FROM graft.bigivmdb.t.changes WHERE _commit_version > $v0"),
      graft.sources.GraftIVM.View("graft.bigivmdb.view", Seq("k"), "n",
        sums = Seq("sv" -> "v"), maxs = Seq("mx" -> "v")),
      Some(spark.table("graft.bigivmdb.t")))
    val got = spark.table("graft.bigivmdb.view").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val exp = spark.sql(
      """SELECT k, count(*) n, sum(v) sv, max(v) mx
        |FROM graft.bigivmdb.t GROUP BY k""".stripMargin).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == exp, "over-limit touched-group refresh drift")
    assert(got.size == 1500 && got(0L) == ((3L, 4500L, 3000L)),
      s"unexpected refreshed state for group 0: ${got(0L)}")
    spark.sql("DROP TABLE graft.bigivmdb.t")
    spark.sql("DROP TABLE graft.bigivmdb.view")
  }

  test("partitioned touched-group IVM: both prunings compose — base ∝ touched groups, view I/O ∝ touched partitions, one commit") {
    // The partitioned form of the MIN/MAX refresh: changelog keys prune
    // the base scan, the republish is the pruned dynamic overwrite
    // (vanished partitions in the same atomic commit), untouched
    // partitions keep their exact files, and a touched partition's
    // UNTOUCHED groups (view grouped finer than its partitioning) carry
    // through verbatim.
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pxivmdb")
    spark.sql("DROP TABLE IF EXISTS graft.pxivmdb.t")
    spark.sql("DROP TABLE IF EXISTS graft.pxivmdb.view")
    spark.sql("CREATE TABLE graft.pxivmdb.t (id BIGINT, k BIGINT, k2 BIGINT, v BIGINT)")
    spark.sql("""INSERT INTO graft.pxivmdb.t
                |SELECT id, id % 6, (id DIV 6) % 2, id FROM range(0, 600)""".stripMargin) // v2
    spark.sql("""CREATE TABLE graft.pxivmdb.view
                |  (k BIGINT, k2 BIGINT, n BIGINT, sv BIGINT, mx BIGINT)
                |PARTITIONED BY (k)""".stripMargin)
    spark.sql("""INSERT INTO graft.pxivmdb.view
                |SELECT k, k2, count(*), sum(v), max(v)
                |FROM graft.pxivmdb.t GROUP BY k, k2""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/pxivmdb/t"
    val vpath = s"$wh/pxivmdb/view"
    def filesIn(k: Long): Seq[(String, Long, Long)] =
      Option(new java.io.File(s"$vpath/k=$k").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".csv"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSeq.sortBy(_._1)
    val untouchedBefore = Seq(0L, 1L, 5L).map(k => k -> filesIn(k)).toMap
    val v0 = graft.sources.GraftMaintenance.currentVersion(tpath).get

    // churn: kill group (2,0)'s max; grow partition 4; partition 3
    // vanishes entirely — partitions 0/1/5 never touched
    spark.sql("DELETE FROM graft.pxivmdb.t WHERE k = 2 AND k2 = 0 AND v >= 500")
    spark.sql("""INSERT INTO graft.pxivmdb.t
                |SELECT id, 4L, (id DIV 6) % 2, id FROM range(1000, 1020)""".stripMargin)
    spark.sql("DELETE FROM graft.pxivmdb.t WHERE k = 3")
    val viewV0 = graft.sources.GraftMaintenance.currentVersion(vpath).get
    val baseRows = graft.sources.GraftIVM.refresh(
      spark.sql(s"SELECT * FROM graft.pxivmdb.t.changes WHERE _commit_version > $v0"),
      graft.sources.GraftIVM.View("graft.pxivmdb.view", Seq("k", "k2"), "n",
        sums = Seq("sv" -> "v"), maxs = Seq("mx" -> "v"), partitionCol = Some("k")),
      Some(spark.table("graft.pxivmdb.t"))).baseRows
    // ONE atomic commit, vanished partition included
    assert(graft.sources.GraftMaintenance.currentVersion(vpath).get
      == viewV0 + 1, "the partitioned touched-group refresh must be ONE version")
    val got = spark.table("graft.pxivmdb.view").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val exp = spark.sql(
      """SELECT k, k2, count(*) n, sum(v) sv, max(v) mx
        |FROM graft.pxivmdb.t GROUP BY k, k2""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == exp, s"partitioned touched-group drift: $got vs $exp")
    assert(!got.keys.exists(_._1 == 3L), "the vanished partition must retire")
    assert(got((2L, 0L))._3 == 494L, "the killed max must refresh to the runner-up")
    assert(got.contains((2L, 1L)),
      "the touched partition's UNTOUCHED group must carry through")
    // untouched partitions never moved; base input ∝ touched groups
    Seq(0L, 1L, 5L).foreach { k =>
      assert(filesIn(k) == untouchedBefore(k),
        s"untouched view partition k=$k moved: ${filesIn(k)} vs ${untouchedBefore(k)}")
    }
    val touchedRows = spark.sql(
      """SELECT count(*) FROM graft.pxivmdb.t
        |WHERE (k = 2 AND k2 = 0) OR k = 3 OR k = 4""".stripMargin)
      .head().getLong(0)
    assert(baseRows == touchedRows,
      s"base input $baseRows must equal the touched groups' $touchedRows rows")
    spark.sql("DROP TABLE graft.pxivmdb.t")
    spark.sql("DROP TABLE graft.pxivmdb.view")
  }

  test("partitioned-view IVM refresh: one atomic commit, untouched partitions keep their exact files, vanished partitions retire") {
    // VERDICT r15 task 5 + r16 task 3: a view partitioned on a group
    // column republishes ONLY the partitions the changelog touches, the
    // vanished-partition retirement rides the SAME manifest commit as
    // the survivor overwrite (exactly ONE version increment per refresh
    // — no reader can see refreshed survivors next to a stale vanished
    // partition), and every untouched partition keeps its exact files
    // (names + mtimes + sizes) across the refresh. A NULL group key
    // (ADVICE r15 medium) appears, refreshes and vanishes like any
    // other value.
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pivmdb")
    spark.sql("DROP TABLE IF EXISTS graft.pivmdb.t")
    spark.sql("DROP TABLE IF EXISTS graft.pivmdb.view")
    spark.sql("CREATE TABLE graft.pivmdb.t (id BIGINT, k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.pivmdb.t SELECT id, id % 8, id * 3 FROM range(0, 800)") // v2
    spark.sql("""CREATE TABLE graft.pivmdb.view (k BIGINT, n BIGINT, sv BIGINT)
                |PARTITIONED BY (k)""".stripMargin)
    spark.sql("""INSERT INTO graft.pivmdb.view
                |SELECT k, count(*), sum(v) FROM graft.pivmdb.t GROUP BY k""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/pivmdb/t"
    val vpath = s"$wh/pivmdb/view"
    val v0 = graft.sources.GraftMaintenance.currentVersion(tpath).get

    def filesIn(k: Long): Seq[(String, Long, Long)] =
      Option(new java.io.File(s"$vpath/k=$k").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".csv"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSeq.sortBy(_._1)
    val untouchedBefore = Seq(0L, 4L, 5L, 6L, 7L).map(k => k -> filesIn(k)).toMap

    // the churn: group 3 vanishes entirely; groups 1 and 2 grow
    spark.sql("DELETE FROM graft.pivmdb.t WHERE k = 3") // v3
    spark.sql("""INSERT INTO graft.pivmdb.t
                |SELECT id, 1 + id % 2, id * 3 FROM range(800, 840)""".stripMargin) // v4
    val changelog = spark.sql(
      s"SELECT * FROM graft.pivmdb.t.changes WHERE _commit_version > $v0")
    val viewV0 = graft.sources.GraftMaintenance.currentVersion(vpath).get
    val pview = graft.sources.GraftIVM.View("graft.pivmdb.view", Seq("k"), "n",
      sums = Seq("sv" -> "v"), partitionCol = Some("k"))
    val consumed = graft.sources.GraftIVM.refresh(changelog, pview, None).consumed
    assert(consumed == 140L, // 100 deletes + 40 inserts
      s"refresh input must be the changelog, got $consumed")
    // ATOMIC republish: survivor overwrite + vanished-partition
    // retirement = ONE version (r16 task 3's done-bar)
    assert(graft.sources.GraftMaintenance.currentVersion(vpath).get
      == viewV0 + 1,
      "a partitioned refresh with a vanished partition must commit " +
        "exactly one view version")

    // exactness: the maintained view equals the recompute
    val refreshed = spark.table("graft.pivmdb.view").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val recomputed = spark.sql(
      "SELECT k, count(*), sum(v) FROM graft.pivmdb.t GROUP BY k").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(refreshed == recomputed,
      s"partitioned IVM drift: $refreshed vs $recomputed")
    assert(!refreshed.contains(3L), "the vanished group must leave the view")

    // untouched partitions: EXACT same files (the refresh never wrote,
    // moved or rewrote them)
    Seq(0L, 4L, 5L, 6L, 7L).foreach { k =>
      assert(filesIn(k) == untouchedBefore(k),
        s"untouched view partition k=$k changed: ${filesIn(k)} vs ${untouchedBefore(k)}")
    }

    // NULL group key (ADVICE r15 medium): a null key must not be
    // dropped by the touched-partition prune, must republish into the
    // null partition directory, and must VANISH through the same
    // atomic option path — never via interpolated SQL text
    val v1 = graft.sources.GraftMaintenance.currentVersion(tpath).get
    spark.sql("""INSERT INTO graft.pivmdb.t
                |SELECT id, CAST(NULL AS BIGINT), id FROM range(0, 7)""".stripMargin)
    graft.sources.GraftIVM.refresh(
      spark.sql(s"SELECT * FROM graft.pivmdb.t.changes WHERE _commit_version > $v1"),
      pview, None)
    val nullRow = spark.table("graft.pivmdb.view")
      .filter(col("k").isNull).collect()
    assert(nullRow.length == 1 && nullRow.head.getLong(1) == 7L &&
      nullRow.head.getLong(2) == 21L,
      s"null-key group must refresh into the view, got ${nullRow.toSeq}")
    val v2 = graft.sources.GraftMaintenance.currentVersion(tpath).get
    val viewV2 = graft.sources.GraftMaintenance.currentVersion(vpath).get
    spark.sql("DELETE FROM graft.pivmdb.t WHERE k IS NULL")
    graft.sources.GraftIVM.refresh(
      spark.sql(s"SELECT * FROM graft.pivmdb.t.changes WHERE _commit_version > $v2"),
      pview, None)
    assert(spark.table("graft.pivmdb.view")
      .filter(col("k").isNull).isEmpty,
      "the vanished null-key group must leave the view")
    assert(graft.sources.GraftMaintenance.currentVersion(vpath).get
      == viewV2 + 1,
      "the null-partition vanish must still be ONE atomic view commit")
    Seq(0L, 4L, 5L, 6L, 7L).foreach { k =>
      assert(filesIn(k) == untouchedBefore(k),
        s"untouched view partition k=$k changed across the null-key " +
          s"refreshes: ${filesIn(k)} vs ${untouchedBefore(k)}")
    }
    spark.sql("DROP TABLE graft.pivmdb.t")
    spark.sql("DROP TABLE graft.pivmdb.view")
  }

  test("graft-store readStream: micro-batches follow the version pointer, loud on non-append versions") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.strdb")
    spark.sql("DROP TABLE IF EXISTS graft.strdb.t")
    spark.sql("CREATE TABLE graft.strdb.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.strdb.t SELECT id, id * 2 FROM range(0, 50)")
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/strdb/t"
    val ckpt = graft.util.TempDirs.create("graft_stream_ckpt_")

    val got = new java.util.concurrent.atomic.AtomicLong(0)
    def runBatch(): Long = {
      got.set(0)
      val q = spark.readStream.format("graft.sources.GraftStoreProvider")
        .option("path", tpath).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.addAndGet(df.count()); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.get()
    }
    // first run: the full snapshot
    assert(runBatch() == 50L)
    // new commits only on resume (offsets are versions, checkpointed)
    spark.sql("INSERT INTO graft.strdb.t SELECT id, id * 2 FROM range(50, 80)")
    spark.sql("INSERT INTO graft.strdb.t SELECT id, id * 2 FROM range(80, 90)")
    assert(runBatch() == 40L)
    // compaction between batches is DATA-NEUTRAL: emits nothing
    graft.sources.GraftMaintenance.compact(tpath, targetBytes = 1L << 30)
    assert(runBatch() == 0L)
    // a version that REMOVED rows cannot be streamed append-only: loud
    spark.sql("DELETE FROM graft.strdb.t WHERE id = 7")
    intercept[Throwable] { runBatch() }
    spark.sql("DROP TABLE graft.strdb.t")
  }

  test("graft-store streaming admission control: maxVersionsPerTrigger bounds catch-up batches") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.admdb")
    spark.sql("DROP TABLE IF EXISTS graft.admdb.t")
    spark.sql("CREATE TABLE graft.admdb.t (id BIGINT)")
    spark.sql("INSERT INTO graft.admdb.t SELECT id FROM range(0, 10)")
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/admdb/t"
    val ckpt = graft.util.TempDirs.create("graft_adm_ckpt_")
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.GraftStoreProvider")
        .option("path", tpath).option("maxVersionsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = df.count()
          if (n > 0) { batches.incrementAndGet(); rows.addAndGet(n) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // snapshot batch
    assert(rows.get() == 10L && batches.get() == 1L)
    // a 4-commit backlog must drain as FOUR bounded batches, not one
    (1 to 4).foreach(k => spark.sql(
      s"INSERT INTO graft.admdb.t SELECT id FROM range(${k * 100}, ${k * 100 + 5})"))
    batches.set(0); rows.set(0)
    run()
    assert(rows.get() == 20L, s"rows=${rows.get()}")
    assert(batches.get() == 4L,
      s"a 4-version backlog under maxVersionsPerTrigger=1 must take 4 " +
        s"batches, took ${batches.get()}")
    spark.sql("DROP TABLE graft.admdb.t")
  }

  test("graft-store merge-on-read UPDATE and MERGE: DVs + insert files, matched files never rewritten") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mordb")

    // the same DML sequence on two tables, one rewriting every matched
    // file and one binding deletion vectors — results must be identical;
    // the DV table's ORIGINAL files must be byte-untouched throughout
    def build(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS graft.mordb.$name")
      spark.sql(s"""CREATE TABLE graft.mordb.$name
                   |  (id BIGINT, day STRING, v BIGINT)
                   |  PARTITIONED BY (day)""".stripMargin)
      spark.sql(s"""INSERT INTO graft.mordb.$name
                   |SELECT /*+ REPARTITION(1) */ id, CAST(id % 2 AS STRING), id * 2
                   |FROM range(0, 200)""".stripMargin)
    }
    def dml(name: String): Unit = {
      spark.sql(s"UPDATE graft.mordb.$name SET v = v + 100000 WHERE id % 31 = 7")
      spark.range(0, 250, 1, 1)
        .selectExpr("id AS mid", "id * 3 AS mv", "id % 50 = 11 AS kill")
        .createOrReplaceTempView(s"${name}_src")
      spark.sql(s"""MERGE INTO graft.mordb.$name t USING ${name}_src s
                   |ON t.id = s.mid
                   |WHEN MATCHED AND s.kill THEN DELETE
                   |WHEN MATCHED AND s.mid % 10 = 3 THEN UPDATE SET v = s.mv
                   |WHEN NOT MATCHED AND s.mid >= 200 AND s.mid % 2 = 0 THEN
                   |  INSERT (id, day, v) VALUES (s.mid, CAST(s.mid % 2 AS STRING), s.mv)
                   |""".stripMargin)
    }
    build("cow"); build("mor")
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    def dataFiles(name: String): Seq[(String, Long, Long)] =
      Seq("0", "1").flatMap { d =>
        Option(new java.io.File(s"$wh/mordb/$name/day=$d").listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("part-"))
          .map(f => (f.getName, f.lastModified(), f.length()))
      }.sortBy(_._1)
    val morBefore = dataFiles("mor")

    // both ends of the rewrite threshold, PINNED (the default is 0.5)
    withRewriteFraction(RewriteAll)(dml("cow"))
    withRewriteFraction(DvOnly)(dml("mor"))

    // identical results across thresholds
    val a = spark.table("graft.mordb.cow").orderBy("id", "v")
      .collect().map(_.toString).toSeq
    val b = spark.table("graft.mordb.mor").orderBy("id", "v")
      .collect().map(_.toString).toSeq
    assert(a == b, s"threshold divergence: cow=${a.take(3)}... mor=${b.take(3)}...")

    // the DV table's ORIGINAL part files are untouched (names,
    // mtimes, sizes); its changes live in DVs + rewrite-* insert files
    assert(dataFiles("mor") == morBefore,
      "merge-on-read DML must never rewrite a matched data file")
    val morDir = new java.io.File(s"$wh/mordb/mor")
    assert(morDir.listFiles().exists(_.getName.startsWith("dv-")))
    def rewrites(name: String) = Seq("0", "1").flatMap { d =>
      Option(new java.io.File(s"$wh/mordb/$name/day=$d").listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith("rewrite-"))
    }
    assert(rewrites("mor").nonEmpty, "UPDATE/MERGE outputs are new files")

    // CDC attribution stays generic: the UPDATE version emits the old
    // row as delete (DV delta) and the new row as insert (new file)
    val tpath = s"$wh/mordb/mor"
    val updV = 3L // create=1, insert=2, update=3, merge=4
    val upd = graft.sources.GraftCDC.changes(spark, tpath, updV - 1, Some(updV))
    val updById = upd.collect().groupBy(_.getAs[String]("_change_type"))
    assert(updById("delete").map(_.getAs[Long]("id")).toSet ==
      (0L until 200L).filter(_ % 31 == 7).toSet)
    assert(updById("insert").map(r =>
      (r.getAs[Long]("id"), r.getAs[Long]("v"))).toSet ==
      (0L until 200L).filter(_ % 31 == 7).map(i => (i, i * 2 + 100000)).toSet)
    spark.sql("DROP TABLE graft.mordb.cow")
    spark.sql("DROP TABLE graft.mordb.mor")
  }

  test("graft-store streaming changelog: deletes flow as retraction rows, resume follows the pointer") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.clogdb")
    spark.sql("DROP TABLE IF EXISTS graft.clogdb.t")
    spark.sql("CREATE TABLE graft.clogdb.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.clogdb.t SELECT id, id * 2 FROM range(0, 30)") // v2
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/clogdb/t"
    val ckpt = graft.util.TempDirs.create("graft_clog_ckpt_")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.GraftStoreProvider")
        .option("path", tpath).option("changesFrom", "2").load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("_change_type", "id").collect().foreach(r =>
            got.add((r.getString(0), r.getLong(1))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // nothing after changesFrom yet
    run()
    assert(got.isEmpty)
    // an append streams as inserts; a deletion-vector DELETE streams as
    // retraction rows — the retractions the plain stream must refuse
    spark.sql("INSERT INTO graft.clogdb.t SELECT id, id * 2 FROM range(30, 40)") // v3
    withRewriteFraction(DvOnly)(
      spark.sql("DELETE FROM graft.clogdb.t WHERE id = 5 OR id = 35")) // v4
    run()
    val byType = got.toArray.map(_.asInstanceOf[(String, Long)])
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byType("insert") == (30L until 40L).toSet, byType)
    assert(byType("delete") == Set(5L, 35L), byType)
    spark.sql("DROP TABLE graft.clogdb.t")
  }

  test("q257 oracle flow is threshold-equivalent: DELETE, UPDATE and MERGE at ≈0, 0.5 and 1.0 give identical content and net changelogs") {
    // the rewrite threshold chooses only HOW each matched file changes
    // (kept-row rewrite vs deletion vector), never WHAT the table holds:
    // the q257 lifecycle (create/insert/DELETE by user id/aggregate) and
    // a mixed DELETE + UPDATE + MERGE sequence must give byte-identical
    // content and identical net changelogs at both ends of the range and
    // at the default
    val thresholds = Seq(RewriteAll, 0.5, DvOnly)
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val q257 = thresholds.map(t => withRewriteFraction(t)(
      sorted(SparkEntry.queries("q257_store_cow_delete")(spark, sf))))
    assert(q257.distinct.size == 1, s"q257 diverged across thresholds: $q257")

    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.thrdb")
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    spark.range(550, 650).selectExpr("id", "CAST(id % 3 AS STRING) AS day",
      "id * 5 AS nv").createOrReplaceTempView("thr_src")
    val runs = thresholds.zipWithIndex.map { case (t, k) =>
      val name = s"graft.thrdb.t$k"
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"""CREATE TABLE $name (id BIGINT, day STRING, v BIGINT)
                   |PARTITIONED BY (day)""".stripMargin)
      spark.sql(s"""INSERT INTO $name
                   |SELECT /*+ REPARTITION(2) */ id, CAST(id % 3 AS STRING), id * 2
                   |FROM range(0, 600)""".stripMargin)
      val path = s"$wh/thrdb/t$k"
      val v0 = graft.sources.GraftMaintenance.currentVersion(path).get
      withRewriteFraction(t) {
        // dense in day=2 (above the default threshold), sparse elsewhere
        spark.sql(s"DELETE FROM $name WHERE id % 7 = 3 OR (day = '2' AND id < 400)")
        spark.sql(s"UPDATE $name SET v = v + 100000 WHERE id % 11 = 4")
        spark.sql(s"""MERGE INTO $name t USING thr_src s ON t.id = s.id
                     |WHEN MATCHED AND s.id % 2 = 0 THEN DELETE
                     |WHEN MATCHED THEN UPDATE SET v = s.nv
                     |WHEN NOT MATCHED THEN INSERT (id, day, v) VALUES (s.id, s.day, s.nv)
                     |""".stripMargin)
      }
      val out = (sorted(spark.table(name)),
        sorted(graft.sources.GraftCDC.netChanges(spark, path, v0)))
      spark.sql(s"DROP TABLE $name")
      out
    }
    assert(runs.map(_._1).distinct.size == 1,
      s"table content diverged across thresholds: ${runs.map(_._1.take(3))}")
    assert(runs.map(_._2).distinct.size == 1,
      s"net changelog diverged across thresholds: ${runs.map(_._2.take(3))}")
    assert(runs.head._1.nonEmpty && runs.head._2.nonEmpty)
  }

  test("graft-store sorted compaction: executor-parallel re-cluster restores zone-map skipping") {
    import graft.sources.GraftMaintenance
    val dir = graft.util.TempDirs.create("graft_sortcpt_") + "/t"
    // 6 interleaved appends: EVERY file spans the whole id range, so
    // every zone map overlaps every probe — the decay a long-lived
    // streaming table suffers (VERDICT r11 task 3)
    (0 until 6).foreach { g =>
      spark.range(0, 6000, 1, 1).filter(col("id") % 6 === g)
        .select(col("id"), (col("id") * 3).as("v"))
        .write.format("graft.sources.GraftStoreProvider")
        .option("path", dir).mode(if (g == 0) "overwrite" else "append").save()
    }
    def read() = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val totalV = read().filter(col("id") >= 0L).agg(sum("v")).head().getLong(0)
    // decayed state: no file is refutable for a mid-range probe
    def idRanges(): Seq[(Long, Long)] = {
      Files.readString(Paths.get(dir, "_STATS")).linesIterator
        .filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
          val t = line.split("\t", -1)
          val gi = t.drop(2).grouped(5).find(_.head == "id").get
          (gi(2).toLong, gi(3).toLong)
        }.toSeq
    }
    assert(idRanges().forall { case (lo, hi) => lo < 100 && hi > 150 },
      "fixture should start fully overlapped")

    // the REWRITE runs as a Spark job (byte movement through executors)
    val res = GraftMaintenance.compactSorted(dir, Seq("id"), spark,
      targetBytes = 16 << 10)
    assert(res.merged >= 2, res.toString)
    GraftMaintenance.expireSnapshots(dir, olderThanMs = 0L)

    // same rows, same totals
    assert(read().count() == 6000L)
    assert(read().filter(col("id") >= 0L).agg(sum("v")).head().getLong(0) == totalV)
    // RANGE-CLUSTERED: merged id ranges are pairwise disjoint
    val ranges = idRanges().sortBy(_._1)
    assert(ranges.size == res.merged.toLong, ranges.toString)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, s"overlap: $ranges")
      case _ => ()
    }
    // SKIPPING RESTORED: poison every file whose range excludes the
    // probe window; the probe must never open them
    def allFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case f if f.isFile && (f.getName.startsWith("part-") ||
          f.getName.startsWith("merged-")) => Seq(f)
        case d2 if d2.isDirectory && d2.getName.contains("=") => allFiles(d2)
        case _ => Seq.empty
      }
    val poisonable = allFiles(new java.io.File(dir)).filter { f =>
      val ids = Files.readString(f.toPath).linesIterator
        .map(_.split(",")(0).toLong).toSeq
      ids.max < 100 || ids.min > 150
    }
    assert(poisonable.nonEmpty, "sorted layout should make most files refutable")
    poisonable.foreach(f => Files.writeString(f.toPath, "zz,zz\n"))
    assert(read().filter(col("id") >= 100L && col("id") <= 150L)
      .agg(sum("v")).head().getLong(0) == (100L to 150L).map(_ * 3).sum)

    // PARTITIONED table: clustering is per partition directory
    val dir2 = graft.util.TempDirs.create("graft_sortcpt2_") + "/t"
    (0 until 4).foreach { g =>
      spark.range(0, 2000, 1, 1).filter(col("id") % 4 === g)
        .select(col("id"), (col("id") % 2).cast("string").as("day"),
          (col("id") * 7).as("v"))
        .write.format("graft.sources.GraftStoreProvider")
        .option("path", dir2).option("partitionBy", "day")
        .mode(if (g == 0) "overwrite" else "append").save()
    }
    def read2() = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir2).load()
    val before2 = read2().collect().map(_.toString).sorted.toSeq
    val res2 = GraftMaintenance.compactSorted(dir2, Seq("id"), spark,
      targetBytes = 8 << 10)
    assert(res2.merged >= 2)
    GraftMaintenance.expireSnapshots(dir2, olderThanMs = 0L)
    assert(read2().collect().map(_.toString).sorted.toSeq == before2,
      "sorted compact changed partitioned data")
    // hive layout intact: every merged file sits in a day= dir
    assert(allFiles(new java.io.File(dir2)).forall(
      _.getParentFile.getName.startsWith("day=")))
  }

  test("graft-store z-order compaction: zone maps prune on EVERY dimension, data intact") {
    import graft.sources.GraftMaintenance
    val dir = graft.util.TempDirs.create("graft_zorder_") + "/t"
    spark.range(0, 65536, 1, 8)
      .select((col("id") % 256).as("x"),
        ((col("id") * 2654435761L) % 256).as("y"), col("id").as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    def read() = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val expect = read().agg(sum("v")).head().getLong(0)

    val bytes = StoreFiles.allBytes(dir)
    GraftMaintenance.compactSorted(dir, Seq("x", "y"), spark,
      targetBytes = math.max(1L, bytes / 16), zOrder = true)
    val total = read().rdd.getNumPartitions
    assert(total >= 8, s"expected >= 8 clustered files, got $total")
    // a TRAILING-dimension probe prunes files — impossible under
    // lexicographic (x, y) clustering, where every file spans all of y
    val ySel = read().filter(col("y") >= 100L && col("y") < 116L)
    assert(ySel.rdd.getNumPartitions < total,
      s"y-probe planned ${ySel.rdd.getNumPartitions} of $total files — " +
        "z-order must bound the trailing dimension too")
    // and the leading dimension still prunes
    val xSel = read().filter(col("x") >= 100L && col("x") < 116L)
    assert(xSel.rdd.getNumPartitions < total)
    // data survives the re-cluster byte-exactly
    assert(read().agg(sum("v")).head().getLong(0) == expect)
    assert(read().count() == 65536L)
    assert(ySel.count() ==
      (0L until 65536L).count(id => { val yy = id * 2654435761L % 256; yy >= 100 && yy < 116 }))

    // guardrails: 1 dimension or an unrankable dimension is rejected
    intercept[Throwable] {
      GraftMaintenance.compactSorted(dir, Seq("x"), spark, zOrder = true)
    }
    val dirB = graft.util.TempDirs.create("graft_zorder_b_") + "/t"
    spark.range(0, 10, 1, 1)
      .select(col("id").as("x"), (col("id") % 2 === 0).as("flag"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dirB).mode("overwrite").save()
    intercept[Throwable] {
      GraftMaintenance.compactSorted(dirB, Seq("x", "flag"), spark, zOrder = true)
    }
  }

  test("z-order with a STRING dimension: rank-against-stats cuts, both dimensions prune") {
    // VERDICT r13 task 7: non-integral z-order dimensions rank against
    // the table's own zone-map bounds — no extra data pass, the same
    // UTF-8 total order the zone maps use
    import graft.sources.GraftMaintenance
    val dir = graft.util.TempDirs.create("graft_zorder_str_") + "/t"
    spark.range(0, 65536, 1, 8)
      .select(
        concat(lit("k"), lpad(((col("id") * 2654435761L) % 256).cast("string"),
          3, "0")).as("s"),
        (col("id") % 256).as("x"), col("id").as("v"))
      // cluster the INPUT by s so the per-file zone maps carry real
      // distribution information (the stats the string rank cuts on) —
      // the decayed-but-not-random layout re-clustering exists for
      .repartitionByRange(8, col("s"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    def read() = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val expect = read().agg(sum("v")).head().getLong(0)

    val bytes = StoreFiles.allBytes(dir)
    GraftMaintenance.compactSorted(dir, Seq("s", "x"), spark,
      targetBytes = math.max(1L, bytes / 16), zOrder = true)
    val total = read().rdd.getNumPartitions
    assert(total >= 8, s"expected >= 8 clustered files, got $total")
    // the STRING dimension prunes (leading) ...
    val sSel = read().filter(col("s") >= "k100" && col("s") < "k116")
    assert(sSel.rdd.getNumPartitions < total,
      s"s-probe planned ${sSel.rdd.getNumPartitions} of $total files")
    // ... and so does the trailing integral dimension — impossible under
    // lexicographic (s, x) clustering
    val xSel = read().filter(col("x") >= 100L && col("x") < 116L)
    assert(xSel.rdd.getNumPartitions < total,
      s"x-probe planned ${xSel.rdd.getNumPartitions} of $total files")
    // data intact, probe answers exact
    assert(read().agg(sum("v")).head().getLong(0) == expect)
    assert(sSel.count() == (0L until 65536L).count { id =>
      val kk = id * 2654435761L % 256; kk >= 100 && kk < 116
    })
  }

  test("graft-store version-pointer kill boundaries: history-first commit, stray history is harmless and overwritten") {
    import graft.sources.GraftMaintenance
    val dir = graft.util.TempDirs.create("graft_vkill_") + "/t"
    spark.range(0, 100, 1, 2).select(col("id"), (col("id") * 2).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    val v0 = GraftMaintenance.currentVersion(dir).get
    GraftMaintenance.compact(dir) // manifest v0 + 1
    def read() = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    assert(GraftMaintenance.currentVersion(dir).contains(v0 + 1))
    val v1Body = Files.readString(Paths.get(dir, "_MANIFEST"))

    // KILL between the history write and the _MANIFEST swap: simulate by
    // planting a v0 + 2 history file while _MANIFEST still says v0 + 1 —
    // readers plan v0 + 1 (the swap IS the commit point), currentVersion
    // stays v0 + 1.
    // Under the r12 validate-and-swap protocol a CORRUPT orphan (its
    // files don't exist — a real crashed winner's always do, publish
    // precedes commit) is DISCARDED by the next committer, which then
    // reclaims the version number; a COMPLETE orphan would instead be
    // rolled forward (covered in the optimistic-commit spec). Either
    // way the stray can never shadow or wedge a real commit.
    Files.writeString(Paths.get(dir, s"_MANIFEST.v${v0 + 2}"),
      s"#version=${v0 + 2}\nno-such-file.csv\n")
    assert(read().count() == 100L)
    assert(GraftMaintenance.currentVersion(dir).contains(v0 + 1))
    assert(Files.readString(Paths.get(dir, "_MANIFEST")) == v1Body,
      "a history write must not move the pointer")
    // the orphan names a missing file -> resolving it fails LOUDLY
    intercept[Throwable] {
      spark.read.format("graft.sources.GraftStoreProvider")
        .option("path", dir).option("versionAsOf", (v0 + 2).toString).load().count()
    }
    // next commit claims version v0 + 2 and replaces the orphan atomically
    spark.range(100, 110, 1, 1).select(col("id"), (col("id") * 2).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("append").save()
    assert(GraftMaintenance.currentVersion(dir).contains(v0 + 2))
    assert(read().count() == 110L)
    assert(spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).option("versionAsOf", (v0 + 2).toString).load().count() == 110L)
    assert(!Files.readString(Paths.get(dir, s"_MANIFEST.v${v0 + 2}"))
      .contains("no-such-file"), "orphan history survived a real commit")

    // retention GC drops the aged incomplete orphan class too: plant
    // another orphan above current, age it, expire — gone without
    // touching live state
    Files.writeString(Paths.get(dir, "_MANIFEST.v9"),
      "#version=9\nno-such-file.csv\n")
    new java.io.File(dir, "_MANIFEST.v9").setLastModified(
      System.currentTimeMillis() - 120000L)
    GraftMaintenance.expireSnapshots(dir, olderThanMs = 0L)
    assert(!new java.io.File(dir, "_MANIFEST.v9").isFile)
    assert(read().count() == 110L)
    assert(GraftMaintenance.currentVersion(dir).contains(v0 + 2))
  }

  test("INSERT OVERWRITE keeps a catalog table versioned: same-shape history survives until GC") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ovrdb")
    spark.sql("DROP TABLE IF EXISTS graft.ovrdb.t")
    spark.sql("""CREATE TABLE graft.ovrdb.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin) // v1
    spark.sql(
      "INSERT INTO graft.ovrdb.t SELECT id, CAST(id % 2 AS STRING), id FROM range(100)") // v2
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/ovrdb/t"
    assert(graft.sources.GraftMaintenance.currentVersion(tpath).contains(2L))
    spark.sql(
      "INSERT OVERWRITE graft.ovrdb.t SELECT id, CAST(id % 2 AS STRING), id * 10 FROM range(10)") // v3
    // STILL versioned: the overwrite committed the next version with
    // exactly its own files. SAME-SHAPE overwrite (ADVICE r12 medium):
    // the old files are RETIRED, not unlinked — no committed manifest
    // ever references a missing file — so time travel now CROSSES the
    // overwrite until retention GC reclaims the history
    assert(graft.sources.GraftMaintenance.currentVersion(tpath).contains(3L))
    assert(spark.sql("SELECT sum(v) FROM graft.ovrdb.t").head().getLong(0)
      == (0L until 10L).map(_ * 10).sum)
    assert(spark.sql("SELECT count(*) FROM graft.ovrdb.t VERSION AS OF 2")
      .head().getLong(0) == 100L, "same-shape overwrite must keep history readable")
    // GC past the window reclaims the overwritten generation; resolution
    // of the expired version then fails loudly
    graft.sources.GraftMaintenance.expireSnapshots(tpath, olderThanMs = 0L)
    intercept[Throwable] {
      spark.sql("SELECT count(*) FROM graft.ovrdb.t VERSION AS OF 2").collect()
    }
    // versioned DELETE semantics survive the overwrite: partition DELETE
    // retires (logical), files stay until GC
    spark.sql("DELETE FROM graft.ovrdb.t WHERE day = '1'")
    assert(graft.sources.GraftMaintenance.currentVersion(tpath).contains(4L))
    assert(new java.io.File(tpath, "day=1").exists(), "retired files GC'd early")
    assert(spark.sql("SELECT count(*) FROM graft.ovrdb.t").head().getLong(0) == 5L)
    assert(spark.sql("SELECT count(*) FROM graft.ovrdb.t VERSION AS OF 3")
      .head().getLong(0) == 10L)
    spark.sql("DROP TABLE graft.ovrdb.t")
  }

  test("graft-store row-level UPDATE and MERGE: the same COW rewrite carries full DML") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dmldb")
    spark.sql("DROP TABLE IF EXISTS graft.dmldb.t")
    spark.sql("""CREATE TABLE graft.dmldb.t (id BIGINT, day STRING, v BIGINT)
                |PARTITIONED BY (day)""".stripMargin)
    spark.sql("""INSERT INTO graft.dmldb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 3 AS STRING), id * 2
                |FROM range(0, 150)""".stripMargin)
    spark.sql("""INSERT INTO graft.dmldb.t
                |SELECT /*+ REPARTITION(1) */ id, CAST(id % 3 AS STRING), id * 2
                |FROM range(150, 300)""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = new java.io.File(s"$wh/dmldb/t")
    def filesIn(day: String) = Option(new java.io.File(tdir, s"day=$day").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") || f.getName.startsWith("rewrite-"))
      .sortBy(_.getName)

    // UPDATE by id: zone maps bound the rewrite — poison every file whose
    // range cannot contain 7; the UPDATE must never open them
    val poisoned = Seq("0", "1", "2").flatMap(d => filesIn(d)).filter { f =>
      Files.readString(f.toPath).linesIterator
        .map(_.split(",")(0).toLong).min > 7
    }
    assert(poisoned.length == 3)
    val saved = poisoned.map(f => f -> Files.readAllBytes(f.toPath)).toMap
    poisoned.foreach(f => Files.writeString(f.toPath, "zz,zz\n"))
    val vBefore = graft.sources.GraftMaintenance
      .currentVersion(tdir.getAbsolutePath).get
    withRewriteFraction(RewriteAll)(
      spark.sql("UPDATE graft.dmldb.t SET v = v + 1000000 WHERE id = 7"))
    poisoned.foreach(f => Files.write(f.toPath, saved(f)))
    assert(spark.sql("SELECT v FROM graft.dmldb.t WHERE id = 7").head().getLong(0)
      == 7L * 2 + 1000000L)
    assert(spark.sql("SELECT count(*) FROM graft.dmldb.t").head().getLong(0) == 300L)
    // only day=1's first file was rewritten (its kept rows land in one
    // materialized `-m` file; the updated row is a reinserted file)
    assert(filesIn("0").forall(_.getName.startsWith("part-")))
    assert(filesIn("2").forall(_.getName.startsWith("part-")))
    assert(filesIn("1").count(f =>
      f.getName.startsWith("rewrite-") && f.getName.contains("-m")) == 1)
    // the pre-UPDATE snapshot still answers (retired, not unlinked)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.dmldb.t VERSION AS OF $vBefore")
      .head().getLong(0) == 300L)

    // MERGE: matched rows update, unmatched insert (routing to their
    // partitions through the same delta write)
    spark.sql("""SELECT id, CAST(id % 3 AS STRING) AS day, id * 100 AS v
                |FROM range(295, 310)""".stripMargin)
      .createOrReplaceTempView("dml_src")
    withRewriteFraction(RewriteAll)(
      spark.sql("""MERGE INTO graft.dmldb.t t USING dml_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (id, day, v) VALUES (s.id, s.day, s.v)
                |""".stripMargin))
    assert(spark.sql("SELECT count(*) FROM graft.dmldb.t").head().getLong(0) == 310L)
    // matched ids 295-299 now carry v = id*100; inserted 300-309 too
    assert(spark.sql(
      "SELECT sum(v) FROM graft.dmldb.t WHERE id >= 295").head().getLong(0)
      == (295L until 310L).map(_ * 100).sum)
    // untouched rows kept their values (minus the id=7 update)
    assert(spark.sql(
      "SELECT sum(v) FROM graft.dmldb.t WHERE id < 295").head().getLong(0)
      == (0L until 295L).map(_ * 2).sum + 1000000L)
    // inserted rows landed in hive-layout partition dirs
    assert(spark.sql(
      "SELECT count(*) FROM graft.dmldb.t WHERE day = '0' AND id >= 300")
      .head().getLong(0) == (300L until 310L).count(_ % 3 == 0))
    spark.sql("DROP TABLE graft.dmldb.t")
  }

  test("TIMESTAMP AS OF resolves the version current at t, gap-safe against expired history") {
    ensureGraftCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tsdb")
    spark.sql("DROP TABLE IF EXISTS graft.tsdb.t")
    def tsLit(ms: Long): String = {
      val tz = spark.conf.get("spark.sql.session.timeZone")
      java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneId.of(tz))
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    }
    val t0 = System.currentTimeMillis() - 5 // before the table existed
    spark.sql("CREATE TABLE graft.tsdb.t (id BIGINT, v BIGINT)") // v1
    spark.sql("INSERT INTO graft.tsdb.t SELECT id, id FROM range(10)") // v2
    Thread.sleep(15)
    val t2 = System.currentTimeMillis() // between v2 and v3
    Thread.sleep(15)
    spark.sql("INSERT INTO graft.tsdb.t SELECT id, id FROM range(10, 30)") // v3
    // as of t2: version 2 (10 rows); as of now: current (30 rows)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.tsdb.t TIMESTAMP AS OF '${tsLit(t2)}'")
      .head().getLong(0) == 10L)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.tsdb.t TIMESTAMP AS OF '${tsLit(System.currentTimeMillis() + 1000)}'")
      .head().getLong(0) == 30L)
    // before the table existed: loud
    intercept[Throwable] {
      spark.sql(
        s"SELECT count(*) FROM graft.tsdb.t TIMESTAMP AS OF '${tsLit(t0)}'")
        .collect()
    }
    // expire history -> the snapshot current at t2 is GONE; resolution
    // must fail loudly (gap-safety), never silently serve another one
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    graft.sources.GraftMaintenance.expireSnapshots(s"$wh/tsdb/t",
      olderThanMs = 0L)
    intercept[Throwable] {
      spark.sql(
        s"SELECT count(*) FROM graft.tsdb.t TIMESTAMP AS OF '${tsLit(t2)}'")
        .collect()
    }
    // the current snapshot stays resolvable by a future timestamp
    assert(spark.sql(
      s"SELECT count(*) FROM graft.tsdb.t TIMESTAMP AS OF '${tsLit(System.currentTimeMillis() + 1000)}'")
      .head().getLong(0) == 30L)
    spark.sql("DROP TABLE graft.tsdb.t")
  }
}
