package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{SparkEntry, Tables}

/** graft's benchmark harness. It calls the library as a caller would:
  * `SparkEntry.queries(name)(spark, dir)` builds a query, a `noop` sink
  * write runs it, and the `Tables` loaders are timed directly.
  *
  * Every workload is a closed loop: a client sends its next query only
  * when its previous one has finished. A pass runs each of the workload's
  * queries once, in an order drawn from the seed; with several clients,
  * each takes the next query of the pass when it is free.
  *
  * Phases of one run: session build, `Tables` warm-up, one untimed pass
  * that checks every query's result (see Check), untimed warm passes run
  * as the measured ones are, then the measured phase: whole passes until
  * `seconds` have gone by and the workload's minimum of passes is
  * reached. Every pass starts from a collected heap; `wall_s` and
  * `heap_peak_mb` are medians over the passes. A traced run measures
  * untraced, traced, untraced, a third of `seconds` and at least one pass
  * each, so its file also gives the tracing overhead.
  *
  * Arguments: `--workload --seed --seconds --trace --data --out --work`. */
object Main {
  /** `warmPasses`: untimed passes before the measured phase. A pass
    * keeps getting faster for several passes after the check pass while
    * the JIT compiles graft's and Spark's code. `minPasses`: the measured
    * phase runs at least this many, so that its median pass is not one
    * that a burst of host load hit. */
  final case class Workload(queries: Seq[String], clients: Int, warmPasses: Int, minPasses: Int)

  /** The queries each workload runs. The dashboard takes every eighth of
    * q01–q28 and ev01–ev32. The recap batch takes the cascade regex
    * ladder, the PQ candidate search and tx28, which leaves a persisted
    * intermediate after its sink. Both sets are sized so that one run fits
    * its time budget. With three recap queries, the median latency is the
    * middle query's (cc01), not an average across the gap between a fast
    * and a slow half. */
  def workload(name: String, names: Set[String], nproc: Int): Workload = {
    def resolve(prefixes: Seq[String]) = prefixes.map { p =>
      names.find(_.startsWith(p + "_")).getOrElse(sys.error(s"no query named $p"))
    }
    lazy val dashboard = resolve((1 to 28 by 8).map(i => f"q$i%02d") ++ (1 to 32 by 8).map(i => f"ev$i%02d"))
    name match {
      case "dashboard" => Workload(dashboard, 1, 3, 3)
      case "dashboard_concurrent" => Workload(dashboard, nproc, 3, 3)
      case "recap_batch" => Workload(resolve(Seq("cc01", "sim08", "tx28")), 1, 1, 3)
      case other => sys.error(s"unknown workload $other")
    }
  }

  /** The query order of one pass of a phase; phase 0 is the check pass,
    * 1 the warm passes, 2 to 4 the measured phases. */
  def order(queries: Seq[String], seed: Long, phase: Int, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + phase * 1009L + pass).shuffle(queries)

  final case class Sample(id: Int, query: String, client: Int, pass: Int,
                          start: Long, built: Long, end: Long, error: String)

  /** One measured phase: its report, samples, passes, wall time per pass
    * and, when traced, the cache held after each query. */
  final case class Phase(report: Map[String, Any], samples: Seq[Sample], passes: Int,
                         wallPerPass: Double, cacheAfter: Seq[(Int, Double)])

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dir = opts("data")
    val work = opts("work")
    val nproc = Runtime.getRuntime.availableProcessors
    val os = ManagementFactory.getOperatingSystemMXBean
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val calibrationStart = calibrate()
    val loadStart = os.getSystemLoadAverage

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val cpu = new TaskCpu
    sc.addSparkListener(cpu)
    val sessionDone = System.currentTimeMillis()

    val fns = SparkEntry.queries
    val wl = workload(opts("workload"), fns.keySet, nproc)
    val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
      Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
      Tables.orders, Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
    // Set-up is untimed, so it runs on every core: the Tables warm-up,
    // then the check pass, which checks each query's result. Together
    // with the warm passes after it, it warms the JIT and the
    // generated-code cache for the measured phase.
    val checks = new ConcurrentHashMap[String, Map[String, Any]]()
    val warmups: Seq[() => Unit] =
      loaders.map(load => () => { load(spark, dir).schema; () }) ++
      order(wl.queries, seed, 0, 0).map(q => () => { checks.put(q, Check.run(fns(q), spark, dir)); () })
    drainOn(nproc, warmups)(_())
    spark.catalog.clearCache()
    val checksDone = System.currentTimeMillis()

    val ids = new AtomicInteger
    /** Runs whole passes until `phaseSeconds` have gone by and at least
      * `minPasses` have run. Before each pass the heap is collected,
      * untimed, so that every pass's heap reading starts from the same
      * baseline and no collection of an earlier pass's garbage lands in
      * it. */
    def measure(recorder: Option[Recorder], phase: Int, phaseSeconds: Double, minPasses: Int): Phase = {
      val cacheAfter = new ConcurrentLinkedQueue[(Int, Double)]()
      val samples = new ConcurrentLinkedQueue[Sample]()
      val pending = new ConcurrentLinkedQueue[String](order(wl.queries, seed, phase, 0).asJava)
      val more = new AtomicBoolean(true)
      val passWalls = mutable.ArrayBuffer[Double]()
      val passHeaps = mutable.ArrayBuffer[Double]()
      BenchBus.drain(sc)
      System.gc()
      var heap = new HeapAfterGc
      val cpu0 = cpu.totalNs
      val t0 = System.nanoTime()
      var passStart = t0
      // a pass ends when every client is idle; only then is the cache
      // cleared, so no clearCache() runs while a query is in flight
      val barrier = new CyclicBarrier(wl.clients, () => {
        spark.catalog.clearCache()
        val now = System.nanoTime()
        passWalls += (now - passStart) / 1e9
        passHeaps += heap.close()
        note(f"phase $phase pass ${passWalls.size}: ${passWalls.last}%.3f s, heap ${passHeaps.last}%.0f MB")
        if ((now - t0) / 1e9 >= phaseSeconds && passWalls.size >= minPasses) more.set(false)
        else {
          pending.addAll(order(wl.queries, seed, phase, passWalls.size).asJava)
          System.gc()
          heap = new HeapAfterGc
          passStart = System.nanoTime()
        }
      })
      runClients(wl.clients) { client =>
        while (more.get) {
          var q = pending.poll()
          while (q != null) {
            val id = ids.getAndIncrement()
            if (recorder.isDefined) sc.setJobGroup(s"gb-$id-c", q, false)
            val start = System.nanoTime()
            var built = -1L
            var error: String = null
            try {
              val df = fns(q)(spark, dir)
              built = System.nanoTime()
              if (recorder.isDefined) sc.setJobGroup(s"gb-$id-s", q, false)
              df.write.format("noop").mode("overwrite").save()
            } catch { case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}" }
            val end = System.nanoTime()
            if (recorder.isDefined) {
              sc.clearJobGroup()
              val held = sc.getRDDStorageInfo.filter(_.isCached)
              cacheAfter.add(held.length -> held.map(r => r.memSize + r.diskSize).sum / 1048576.0)
            }
            samples.add(Sample(id, q, client, passWalls.size, start, if (built < 0) end else built, end, error))
            if (wl.clients == 1) spark.catalog.clearCache()
            q = pending.poll()
          }
          barrier.await()
        }
      }
      BenchBus.drain(sc)
      val all = samples.asScala.toSeq.sortBy(_.id)
      val taskCpuS = (cpu.totalNs - cpu0) / 1e9
      val wallS = Stats.median(passWalls.toSeq)
      val report = Map[String, Any](
        "passes" -> passWalls.size, "clients" -> wl.clients,
        "pass_walls_s" -> passWalls.toSeq,
        "wall_s" -> wallS,
        "task_cpu_s" -> taskCpuS,
        "cores_used" -> taskCpuS / passWalls.sum,
        "pass_heap_peaks_mb" -> passHeaps.toSeq,
        "heap_peak_mb" -> Stats.median(passHeaps.toSeq),
        "samples" -> all.map(s => Map("query" -> s.query, "client" -> s.client, "pass" -> s.pass,
          "latency_s" -> (s.end - s.start) / 1e9, "error" -> s.error)))
      Phase(report, all, passWalls.size, wallS, cacheAfter.asScala.toSeq)
    }

    measure(None, 1, 0, wl.warmPasses)
    val firstTimed = System.currentTimeMillis()
    note(s"session ${(sessionDone - jvmStart) / 1000.0} s, warm-up and checks ${(checksDone - sessionDone) / 1000.0} s, " +
      s"warm passes ${(firstTimed - checksDone) / 1000.0} s")
    // a traced run measures three phases in about the time of one; its
    // figures are per-pass sums and have no bound, so one pass will do
    val (phaseSeconds, minPasses) = if (traced) (seconds / 3, 1) else (seconds, wl.minPasses)
    val plain = measure(None, 2, phaseSeconds, minPasses)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> opts("workload"), "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> nproc, "data" -> dir, "queries" -> wl.queries,
      "jvm" -> Map("version" -> System.getProperty("java.version"),
        "vm" -> System.getProperty("java.vm.name"), "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "spark" -> spark.version,
      "setup_s" -> (firstTimed - jvmStart) / 1000.0,
      "setup" -> Map("jvm_to_session_s" -> (sessionDone - jvmStart) / 1000.0,
        "warmup_and_checks_s" -> (checksDone - sessionDone) / 1000.0,
        "warm_passes_s" -> (firstTimed - checksDone) / 1000.0),
      "checks" -> checks.asScala.toMap,
      "untraced" -> plain.report)

    if (traced) {
      val rec = new Recorder
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec)
      val log = CodegenLog.attach()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val phase = measure(Some(rec), 3, phaseSeconds, minPasses)
      val codegen = Map(
        "compilations" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
        "compile_ms" -> log.compileMs.sum,
        "disabled_stages" -> log.disabledStages.get.toDouble,
        "large_task_binaries" -> log.largeTaskBinaries.get.toDouble)
      val probes = (1 to phase.passes).map(i => tablesProbe(spark, dir, loaders, rec, i))
      CodegenLog.detach(log)
      spark.listenerManager.unregister(rec)
      sc.removeSparkListener(rec)
      // untraced again after the traced phase, so a warm-up trend across
      // the run does not read as tracing overhead
      val after = measure(None, 4, phaseSeconds, minPasses)
      result("traced") = phase.report
      result("untraced_after") = after.report
      result("layers") = Layers.report(phase.samples, rec, phase.passes, codegen, phase.cacheAfter, probes)
      result("tracing_overhead_s") = phase.wallPerPass - (plain.wallPerPass + after.wallPerPass) / 2
    }
    result("calibration_ms") = Seq(calibrationStart, calibrate())
    result("loadavg_1m") = Seq(loadStart, os.getSystemLoadAverage)
    spark.stop()
    Files.write(Paths.get(opts("out")), Serialization.write(result)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
  }

  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Runs `body(client)` on `n` threads and waits for all; a failure in
    * any client is rethrown. */
  def runClients(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() => try body(c) catch { case e: Throwable => errors.add(e) }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Applies `f` to every item, `n` threads taking the next free item. */
  def drainOn[A](n: Int, items: Seq[A])(f: A => Unit): Unit = {
    val q = new ConcurrentLinkedQueue[A](items.asJava)
    runClients(n) { _ => var x = q.poll(); while (x != null) { f(x); x = q.poll() } }
  }

  /** Times the ten loaders once, each with its schema forced: one probe. */
  def tablesProbe(spark: SparkSession, dir: String, loaders: Seq[(SparkSession, String) => DataFrame],
                  rec: Recorder, i: Int): Map[String, Any] = {
    val group = s"gb-tables-$i"
    spark.sparkContext.setJobGroup(group, "tables", false)
    val t0 = System.nanoTime()
    loaders.foreach(load => load(spark, dir).schema)
    val ms = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.clearJobGroup()
    BenchBus.drain(spark.sparkContext)
    Map("ms" -> ms, "jobs" -> rec.jobsOf(group).size)
  }

  /** The largest heap in use right after a collection, over the time
    * between construction and `close()`: each collection's usage after
    * it, summed over the heap pools, from the collectors' notifications.
    * It starts from the pools' usage after the last collection before it,
    * so a phase without a collection still reads its baseline. */
  final class HeapAfterGc extends NotificationListener {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    private val heapPools = pools.map(_.getName).toSet
    private val peak = new AtomicLong(pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(this, null, null))

    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max(_, _))
      }

    /** Stops listening; the peak in MB. */
    def close(): Double = {
      emitters.foreach(_.removeNotificationListener(this))
      peak.get / 1048576.0
    }
  }

  object Stats {
    def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else {
      val v = xs.sorted
      if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
    }
  }

  /** A fixed pure-JVM loop, median of five, in ms: a slow reading flags a
    * run that shared its cores with someone else. */
  def calibrate(): Double = {
    def once(): Double = {
      val t = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 0xff; i += 1 }
      if (acc == 42L) System.err.print("")
      (System.nanoTime() - t) / 1e6
    }
    (1 to 5).map(_ => once()).sorted.apply(2)
  }
}

/** The per-query result check: schema, row count and a SHA-256 digest of
  * the sorted rows. Columns are taken in name order and floating values
  * are rounded to 9 decimals, as the DuckDB oracle compare does. */
object Check {
  def run(fn: (SparkSession, String) => DataFrame, spark: SparkSession, dir: String): Map[String, Any] =
    try {
      val df = fn(spark, dir)
      val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
      val lines = df.collect().map(r => fields.map { case (_, i) => canon(r.get(i)) }.mkString("\u001f")).sorted
      val md = MessageDigest.getInstance("SHA-256")
      lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
      Map("rows" -> lines.length,
        "schema" -> fields.map { case (f, _) => s"${f.name}:${f.dataType.simpleString}" }.mkString(","),
        "digest" -> md.digest().map(b => f"$b%02x").mkString)
    } catch { case e: Throwable => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}") }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else {
        val s = new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN)
          .stripTrailingZeros.toPlainString
        if (s == "-0") "0" else s
      }
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) -> canon(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }
}
