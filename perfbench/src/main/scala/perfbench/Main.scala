package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import graft.QueryDef
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Runs one workload in one JVM and writes the raw record that
  * `perfbench/run.py` turns into metrics.
  *
  * Args: `--workload W --seed N --seconds S --trace 0|1 --cpus C
  * --data DIR --out DIR`.
  *
  * 1. Check pass (untimed, also the warm-up): every workload query runs
  *    once, on as many threads as the workload has clients, and its full
  *    result is written as parquet under `out/check` for the DuckDB oracle
  *    compare; its row count becomes the expected count.
  * 2. Timed window: each client thread runs `Workload.passes(seconds)`
  *    whole passes over its own seed-drawn permutation of the queries.
  *    Every execution calls `QueryDef.fn` and writes the full result to
  *    the `noop` sink; its row count is checked against the check pass.
  *    No cache is cleared between executions.
  */
object Main {
  private type DataFrameWriterFn = org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] => Unit
  private def msg(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** Runs `body(client)` on `n` threads and waits for all of them. */
  private def onClients(n: Int, name: String)(body: Int => Unit): Unit = {
    val threads = (0 until n).map(c => new Thread(() => body(c), s"perfbench-$name-$c"))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Peak heap in use after a garbage collection, over the window. */
  private final class HeapPeak {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var armed = false
    private var peak = 0L
    private def offer(used: Long): Unit = synchronized { if (used > peak) peak = used }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener((n: Notification, _: AnyRef) => {
          if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            offer(info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
          }
        }, null, null)
      case _ =>
    }
    def start(): Unit = { synchronized { peak = 0 }; armed = true }
    /** Stops recording and returns (peak, live) in MB, where live is the
      * heap in use after a full collection. The live heap also bounds the
      * peak below, so a window without any collection still reads.
      */
    def stopMb(): (Double, Double) = {
      // The first collection lets Spark's ContextCleaner drop the blocks of
      // broadcasts and shuffles nothing references; the second frees them.
      System.gc()
      Thread.sleep(500)
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      offer(live)
      armed = false
      val bytes: Long = synchronized(peak)
      (bytes / (1024.0 * 1024.0), live / (1024.0 * 1024.0))
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt("cpus").toInt
    val w = Workloads.byName(opt("workload"), cpus)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val out = opt("out")

    val heap = new HeapPeak
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    // One session per client unless the workload shares one.
    val sessions = (0 until w.clients)
      .map(c => if (c == 0 || w.sharedSession) spark else spark.newSession())
    val batchTimes = new BatchTimes
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(sc.addSparkListener)
    sessions.distinct.foreach { s =>
      s.streams.addListener(batchTimes)
      tracer.foreach { t =>
        s.listenerManager.register(t)
        s.streams.addListener(t.streams)
      }
    }
    val orders: IndexedSeq[Seq[QueryDef]] = (0 until w.clients)
      .map(c => new scala.util.Random(seed * 1000003L + c).shuffle(w.queries))

    val confBefore = spark.conf.getAll
    def confChanged(): Int = sessions.distinct.map { s =>
      val now = s.conf.getAll
      (now.keySet ++ confBefore.keySet).count(k => now.get(k) != confBefore.get(k))
    }.sum
    // Rows of a full result, counted as it is written.
    def writeCounted(df: org.apache.spark.sql.DataFrame, sink: DataFrameWriterFn): Long = {
      val obs = Observation()
      sink(df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite"))
      obs.get("rows").asInstanceOf[Long]
    }

    // The check pass runs the queries on as many threads as the window has
    // clients, each query once.
    val pending = new ConcurrentLinkedQueue[QueryDef](orders(0).asJava)
    val checked = new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[String], Double)]()
    onClients(w.clients, "check") { c =>
      var q = pending.poll()
      while (q != null) {
        val t0 = System.nanoTime()
        val r = try (writeCounted(q.fn(sessions(c), data), _.parquet(s"$out/check/${q.name}")), None)
                catch { case e: Throwable => (-1L, Some(msg(e))) }
        checked.put(q.name, (r._1, r._2, (System.nanoTime() - t0) / 1e9))
        q = pending.poll()
      }
    }
    val check = checked.asScala.toMap

    val nextId = new AtomicLong(0)
    def execute(client: Int, pass: Int, q: QueryDef): Exec = {
      val id = nextId.incrementAndGet()
      sc.setLocalProperty(Tracer.ExecKey, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val (rows, error) =
        try {
          val df = q.fn(sessions(client), data)
          t1 = System.nanoTime()
          val n = writeCounted(df, _.format("noop").save())
          val want = check(q.name)._1
          (n, if (n == want) None else Some(s"row count $n, expected $want"))
        } catch { case e: Throwable => (-1L, Some(msg(e))) }
      val t2 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.ExecKey, null)
      val (cacheLeft, confDiff) = if (traced) (sc.getPersistentRDDs.size, confChanged()) else (0, 0)
      Exec(id, client, pass, q.name, startMs, endMs, t1 - t0, t2 - t1, rows, error,
        cacheLeft, confDiff)
    }

    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val execs = new ConcurrentLinkedQueue[Exec]()
    val passes = new ConcurrentLinkedQueue[Double]()
    heap.start()
    val windowStartMs = System.currentTimeMillis()
    val cpu0 = cpuBean.getProcessCpuTime
    onClients(w.clients, "client") { c =>
      for (pass <- 0 until w.passes(seconds)) {
        val p0 = System.nanoTime()
        orders(c).foreach(q => execs.add(execute(c, pass, q)))
        passes.add((System.nanoTime() - p0) / 1e9)
      }
    }
    val windowEndMs = System.currentTimeMillis()
    val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
    val (heapPeakMb, heapLiveMb) = heap.stopMb()
    val all = execs.asScala.toSeq.sortBy(_.id)

    val trace = tracer.map { t =>
      t.drain()
      val (layers, perExec) = t.reduce(all, cpus, windowEndMs - windowStartMs)
      Map(
        "layers" -> (layers.map(l => Seq(l._1, l._2, l._3)) ++ Seq(
          Seq("session.cache_left", "count", sc.getPersistentRDDs.size.toDouble),
          Seq("session.conf_changed", "count", confChanged().toDouble))),
        "executions" -> perExec)
    }
    val record = Map[String, Any](
      "workload" -> w.name,
      "clients" -> w.clients,
      "queries" -> w.queries.map(_.name),
      "orders" -> orders.map(_.map(_.name)),
      "master" -> sc.master,
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "check" -> check.map { case (k, (n, e, t)) =>
        k -> Map("rows" -> n, "error" -> e.orNull, "wall_s" -> t) },
      "oracle" -> graft.Registry.oracleSql.filter { case (k, _) => check.contains(k) },
      "window_start_ms" -> windowStartMs,
      "window_end_ms" -> windowEndMs,
      "cpu_s" -> cpuS,
      "heap_peak_mb" -> heapPeakMb,
      "heap_live_mb" -> heapLiveMb,
      "pass_s" -> passes.asScala.toSeq,
      "executions" -> all.map(x => Map("query" -> x.query, "client" -> x.client,
        "pass" -> x.pass, "wall_s" -> x.wallMs / 1e3, "rows" -> x.rows, "error" -> x.error.orNull)),
      "batch_ms" -> batchTimes.since(windowStartMs),
      "trace" -> trace.orNull)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(s"$out/record.json"), record)
    spark.stop()
  }
}
