package perfbench

import graft.SparkEntry
import graft.fetch.{Correlate, FetchSim}
import graft.frontier.{PoolIndex, SeenIndex}
import graft.pipeline.{CrawlConfig, Crawler, RoundStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark process: runs one workload against the program's
  * public API and writes the raw measurements (operations, set-up
  * intervals, output checks and, when traced, stage spans) as one JSON
  * file. `perfbench/run.py` launches it and turns that file into metrics.
  *
  * Load model: a closed loop with one client — each operation (seed call,
  * round, query) starts after the previous one completed.
  *
  * Usage: perfbench.Harness --workload crawl|queries --seed N
  *   --seconds S --trace 0|1 --out FILE --work DIR [--data DIR]
  *   [--cores N] [--t0-ms EPOCH_MS] [--conf k=v]... [--param k=v]...
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val kv = mutable.Map.empty[String, String]
    val conf = mutable.LinkedHashMap.empty[String, String]
    val params = mutable.Map.empty[String, String]
    args.grouped(2).foreach {
      case Array("--conf", c) => val Array(k, v) = c.split("=", 2); conf(k) = v
      case Array("--param", c) => val Array(k, v) = c.split("=", 2); params(k) = v
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    val run = new Run(
      workload = kv("workload"), seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble, trace = kv.get("trace").contains("1"),
      work = kv("work"), data = kv.getOrElse("data", ""),
      cores = kv.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      t0Ms = kv.get("t0-ms").map(_.toLong)
        .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime),
      conf = conf.toMap, params = params.toMap)
    try run.workload match {
      case "crawl" => run.crawl()
      case "queries" => run.queries()
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        run.fatal = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      // stopping the context delivers every queued listener event, so the
      // trace holds the last stages before it is written
      run.stop()
      Files.writeString(Paths.get(kv("out")), Run.json.writeValueAsString(run.result))
    }
  }
}

/** Shape of a synthetic crawl: `hosts` × `budget` URLs per full round;
  * every host is seeded with exactly `seedsPerHost` pages, so the seeds
  * alone keep `seedsPerHost / budget` rounds full. */
final case class CrawlShape(hosts: Int, budget: Int, buckets: Int, pages: Int,
    seedsPerHost: Int, links: Int)

final class Run(val workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, data: String, cores: Int, t0Ms: Long,
    conf: Map[String, String], params: Map[String, String]) {

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val setups = mutable.ArrayBuffer.empty[Double]
  private val facts = mutable.LinkedHashMap.empty[String, Any]
  private val probes = mutable.LinkedHashMap.empty[String, Any]
  private val tracers = mutable.ArrayBuffer.empty[Tracer]
  private var spark: SparkSession = _
  var fatal: String = ""

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def p(k: String): Int = params(k).toInt

  def result: Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> trace,
    "ops" -> ops.toList, "checks" -> checks.toList, "setups_s" -> setups.toList,
    "facts" -> facts, "probes" -> probes, "fatal" -> fatal,
    "spans" -> tracers.map(_.spans).toList)

  // ---------------------------------------------------------------- session

  private def startSession(n: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$n]").appName(s"perfbench-$n")
      .config("spark.sql.shuffle.partitions", (4 * n).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    conf.foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      tracers += t
    }
    spark
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    spark = null
  }

  // ------------------------------------------------------------- operations

  /** Runs one operation, recording wall, process CPU and GC time; a thrown
    * exception is recorded as a failed operation and returned as None. */
  private def op[T](kind: String, name: String, leg: String)(f: => T)(
      extra: T => Map[String, Any] = (_: T) => Map.empty[String, Any]): Option[T] = {
    val id = s"$kind-${ops.size}"
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpKey, id)
    val c0 = os.getProcessCpuTime
    val g0 = gcMs
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(f) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val row = Map[String, Any]("id" -> id, "kind" -> kind, "name" -> name, "leg" -> leg,
      "start_ms" -> e0, "end_ms" -> System.currentTimeMillis(), "wall_s" -> wall,
      "cpu_s" -> (os.getProcessCpuTime - c0) / 1e9, "gc_s" -> (gcMs - g0) / 1e3)
    sc.setLocalProperty(Tracer.OpKey, null)
    res match {
      case Right(v) => ops += row ++ Map("ok" -> true) ++ extra(v)
      case Left(e) =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        ops += row ++ Map("ok" -> false, "error" -> e.toString)
    }
    res.toOption
  }

  /** A planned operation that could not run because an earlier one failed. */
  private def skipped(kind: String, name: String, leg: String): Unit =
    ops += Map("id" -> s"$kind-${ops.size}", "kind" -> kind, "name" -> name,
      "leg" -> leg, "ok" -> false, "error" -> "skipped")

  private def check(name: String, leg: String, ok: => Boolean, detail: => String): Unit = {
    val (pass, msg) = try (ok, detail) catch { case e: Throwable => (false, e.toString) }
    if (!pass) System.err.println(s"[perfbench] check $name ($leg) failed: $msg")
    checks += Map("name" -> name, "leg" -> leg, "ok" -> pass, "detail" -> msg)
  }

  /** Heap still in use after a full collection: the heap pools' usage as
    * of the last GC, so allocation after it does not count. */
  private def heapLiveMb(): Double = {
    // the second collection also reclaims what Spark's context cleaner
    // released after the first (broadcast and shuffle bookkeeping)
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(pool => Option(pool.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  // ------------------------------------------------------------------ crawl

  private def shape: CrawlShape = CrawlShape(p("hosts"), p("budget"), p("buckets"),
    p("pages"), p("seeds_per_host"), p("links"))

  private def crawlConfig(s: CrawlShape): CrawlConfig =
    CrawlConfig(numBuckets = s.buckets, perHostBudget = s.budget,
      perBucketBudget = math.max(40000, s.hosts), sampler = "fifo", saltFactor = 0,
      storeFiles = false, parquetBlockBytes = 16L * 1024 * 1024,
      politenessRate = s.budget.toDouble, politenessBurst = math.max(1.0, s.budget.toDouble))

  private def fetchSim(s: CrawlShape): FetchSim =
    new FetchSim(numHosts = s.hosts, pagesPerHost = s.pages, linksPerPage = s.links,
      seed = seed, screenshotPayloads = false)

  /** Seed URLs with ids in [from, until): page `id / hosts` of host
    * `id % hosts`, with a seed-dependent FIFO position. */
  private def seedFrame(s: CrawlShape, from: Long, until: Long): DataFrame =
    spark.range(from, until).select(
      concat(lit("http://h"), (col("id") % s.hosts).cast("string"), lit(".test/p/"),
        (col("id") / s.hosts).cast("long").cast("string")).as("url"),
      lit(0).as("depth"),
      pmod(xxhash64(col("id"), lit(seed)), lit(1L << 40)).as("discovered_at"))

  private def roundExtra(c: Crawler, workDir: String, before: Option[Map[Int, (String, Long)]])(
      st: RoundStats): Map[String, Any] = {
    val snap = c.frontierTable.currentSnapshot()
    val after = snap.map(_.buckets.map { case (b, e) => b -> (e.dir, e.rows) }).getOrElse(Map.empty)
    val rewritten = after.collect {
      case (b, (dir, rows)) if !before.flatMap(_.get(b)).exists(_._1 == dir) => rows
    }.sum
    val frontierBytes = after.values.map { case (dir, _) =>
      dirBytes(Paths.get(c.frontierTable.root, dir)) }.sum
    val perBucket = Run.json.readTree(Files.readString(
      Paths.get(workDir, "lineage", s"round-${st.round}.json")))
      .get("popped_per_bucket").elements().asScala.map(_.asDouble).toSeq
    Map("round" -> st.round, "popped" -> st.popped, "offered" -> st.offered,
      "new_urls" -> st.newUrls, "errors" -> st.errors, "fetched_ok" -> st.fetchedOk,
      "frontier_rows" -> st.frontierRows, "pool_rows_rewritten" -> rewritten,
      "bucket_skew" -> (if (perBucket.isEmpty) 0.0 else perBucket.max / Stat.median(perBucket)),
      "frontier_bytes" -> frontierBytes,
      "docs_bytes" -> dirBytes(Paths.get(workDir, "docs", s"round=${st.round}")),
      "seen_bytes" -> dirBytes(Paths.get(workDir, "seen", s"round=${st.round}")))
  }

  private def snapshotDirs(c: Crawler): Option[Map[Int, (String, Long)]] =
    c.frontierTable.currentSnapshot().map(_.buckets.map { case (b, e) => b -> (e.dir, e.rows) })

  /** One crawl round as an operation of `kind`. */
  private def crawlRound(c: Crawler, workDir: String, kind: String, leg: String): Option[RoundStats] = {
    val before = snapshotDirs(c)
    op(kind, s"round", leg)(c.round())(roundExtra(c, workDir, before))
  }

  private final case class Leg(workDir: String, crawler: Crawler, sim: FetchSim,
      rounds: Seq[RoundStats], measured: Int, ok: Boolean)

  /** Seed, warm-up round and measured rounds at `local[n]`. Measured rounds
    * run until `minSeconds` of round time and `minRounds` rounds are done
    * (or exactly `fixedRounds`), never past the seeded supply. */
  private def crawlLeg(n: Int, leg: String, s: CrawlShape, minRounds: Int,
      minSeconds: Double, fixedRounds: Option[Int]): Leg = {
    startSession(n)
    val dir = s"$work/crawl-$leg"
    val sim = fetchSim(s)
    val c = new Crawler(spark, dir, sim, crawlConfig(s))
    val all = mutable.ArrayBuffer.empty[RoundStats]
    var ok = op("seed", "addSeedCandidates", leg)(c.addSeedCandidates(seedList(s)))(
      (rows: Long) => Map("rows" -> rows)).isDefined
    (1 to p("warmup_rounds")).foreach { _ =>
      if (ok) crawlRound(c, dir, "warmup", leg) match {
        case Some(st) => all += st
        case None => ok = false
      }
    }
    if (setups.isEmpty) setups += (System.currentTimeMillis() - t0Ms) / 1e3
    // the seeds keep the warm-up, measured and resume rounds full
    val maxRounds = s.seedsPerHost / s.budget - p("warmup_rounds") - p("resumes")
    var measured = 0
    var spent = 0.0
    def more = fixedRounds match {
      case Some(k) => measured < math.min(k, maxRounds)
      case None => measured < maxRounds && (measured < minRounds || spent < minSeconds)
    }
    while (ok && more) {
      val t0 = System.nanoTime()
      crawlRound(c, dir, "round", leg) match {
        case Some(st) => all += st; measured += 1
        case None => ok = false
      }
      spent += (System.nanoTime() - t0) / 1e9
    }
    fixedRounds.foreach(k => (measured until k).foreach(_ => skipped("round", "round", leg)))
    facts(s"$leg.last_round") = c.lastRound
    facts(s"$leg.rounds_measured") = measured
    Leg(dir, c, sim, all.toSeq, measured, ok)
  }

  private def seedList(s: CrawlShape): DataFrame =
    seedFrame(s, 0L, s.hosts.toLong * s.seedsPerHost)

  /** Order-insensitive fingerprint of the archive's (url, round) rows up
    * to round `upTo`. */
  private def archiveHash(c: Crawler, upTo: Int): String = {
    val r = c.seen().filter(col("last_visit") <= upTo).agg(count(lit(1)),
      sum(pmod(xxhash64(col("url"), col("last_visit")), lit(1L << 31))),
      sum(pmod(xxhash64(col("last_visit"), col("url"), lit(seed)), lit(1L << 31)))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** The output checks every crawl leg must pass; `popped` lists every
    * committed round's stats in order. */
  private def crawlChecks(l: Leg, leg: String, popped: Seq[RoundStats]): Unit = {
    val c = l.crawler
    val total = popped.map(_.popped).sum
    val docs = c.docs().count()
    check("docs_rows_equal_popped", leg, docs == total, s"docs=$docs popped=$total")
    val fr = c.frontier().agg(count(lit(1)), countDistinct(col("url"))).head()
    check("frontier_urls_unique", leg, fr.getLong(0) == fr.getLong(1),
      s"rows=${fr.getLong(0)} distinct=${fr.getLong(1)}")
    val bad = popped.flatMap { st =>
      val js = Run.json.readTree(Files.readString(Paths.get(l.workDir, "lineage", s"round-${st.round}.json")))
      val perBucket = js.get("popped_per_bucket").elements().asScala.map(_.asLong).sum
      if (perBucket == st.popped && js.get("popped").asLong == st.popped) None
      else Some(s"round ${st.round}: buckets=$perBucket popped=${st.popped}")
    }
    check("lineage_buckets_sum_to_popped", leg, bad.isEmpty, bad.mkString("; "))
    val full = popped.drop(1).filterNot(_.popped == shapeRound)
    check("measured_rounds_full", leg, full.isEmpty,
      full.map(st => s"round ${st.round} popped ${st.popped}").mkString("; "))
  }

  private def shapeRound: Long = shape.hosts.toLong * shape.budget

  /** Resume: a fresh Crawler on the same work dir, with the resident seen
    * and pool indexes dropped, runs one round. */
  private def resumeRound(l: Leg, s: CrawlShape, leg: String): Option[RoundStats] = {
    SeenIndex.invalidate()
    PoolIndex.invalidate()
    var fresh: Crawler = null
    val before = snapshotDirs(l.crawler)
    op("resume", "round", leg) {
      fresh = new Crawler(spark, l.workDir, l.sim, crawlConfig(s))
      fresh.round()
    }(st => roundExtra(fresh, l.workDir, before)(st))
  }

  /** Single-thread probes of the fetch and frontier layers (traced runs). */
  private def layerProbes(l: Leg, s: CrawlShape): Unit = {
    val sample = l.crawler.seen().select("url", "host_bucket").limit(4000).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val urls = sample.map(_._1)
    def perItem(reps: Int)(f: => Unit): Double =
      Stat.median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble
      }) / math.max(1, urls.length)
    probes("fetch.sim_us_per_url") = perItem(5)(urls.foreach(l.sim.fetch)) / 1e3
    val fetched = urls.map(u => (u, l.sim.fetch(u)))
    val sb = new java.lang.StringBuilder(1 << 14)
    probes("fetch.correlate_us_per_url") = perItem(5)(fetched.foreach { case (u, fr) =>
      Correlate.docFromSession(Correlate.sessionFromFetch(l.crawler.docIdOf(u), fr), sb)
    }) / 1e3
    val root = s"${l.workDir}/seen"
    val cutoff = l.crawler.lastRound
    SeenIndex.invalidate()
    probes("frontier.seen_index_load_ms") = Stat.median((0 until s.buckets).map { b =>
      val t0 = System.nanoTime(); SeenIndex.setFor(root, cutoff, b); (System.nanoTime() - t0) / 1e6
    })
    val keys = sample.map { case (u, b) => (UTF8String.fromString(u), b) }
    probes("frontier.seen_probe_ns") = perItem(5)(keys.foreach { case (u, b) =>
      SeenIndex.contains(root, cutoff, b, u) })
  }

  def crawl(): Unit = {
    val s = shape
    facts("links") = s.links
    // JIT warm-up: a throwaway crawl, so the measured rounds do not pay
    // first compilation
    startSession(cores)
    val jitDir = s"$work/crawl-jit"
    val jit = new Crawler(spark, jitDir, fetchSim(s), crawlConfig(s))
    op("jit", "addSeedCandidates", "jit")(jit.addSeedCandidates(seedList(s)))()
    (1 to p("jit_rounds")).foreach(_ => crawlRound(jit, jitDir, "jit", "jit"))
    stop()
    val hi = crawlLeg(cores, "ncore", s, p("min_rounds"), seconds, None)
    val paired = p("warmup_rounds") + p("paired_rounds")
    val hiHash = if (hi.ok && trace) Some(archiveHash(hi.crawler, paired)) else None
    if (trace) facts("heap_live_mb") = heapLiveMb()
    // the seed call on the seed list, each sample into a fresh work dir
    (1 to p("seed_samples")).foreach { i =>
      val c = new Crawler(spark, s"$work/crawl-seed-$i", hi.sim, crawlConfig(s))
      op("ingest", "addSeedCandidates", "ncore")(c.addSeedCandidates(seedList(s)))()
    }
    val resumed = (1 to p("resumes")).flatMap { _ =>
      if (hi.ok) resumeRound(hi, s, "ncore") else { skipped("resume", "round", "ncore"); None }
    }
    crawlChecks(hi, "ncore", hi.rounds ++ resumed)
    if (trace) {
      if (hi.ok) layerProbes(hi, s)
      stop()
      // paired N -> 1: local[1] replays the first measured rounds on
      // identical input, and must produce the same archive
      val lo = crawlLeg(1, "1core", s, 0, 0.0, Some(p("paired_rounds")))
      val loHash = if (lo.ok) Some(archiveHash(lo.crawler, paired)) else None
      check("archive_same_across_cores", "1core", loHash.isDefined && loHash == hiHash,
        s"rounds<=$paired ncore=${hiHash.getOrElse("-")} 1core=${loHash.getOrElse("-")}")
      crawlChecks(lo, "1core", lo.rounds)
    }
  }

  // ---------------------------------------------------------------- queries

  def queries(): Unit = {
    startSession(cores)
    val keys = params("queries").split(",").toSet
    val names = SparkEntry.queries.keys.filter(q => keys.contains(q.takeWhile(_ != '_')))
      .toSeq.sorted
    facts("queries") = names.size
    val rnd = new scala.util.Random(seed)
    setups += (System.currentTimeMillis() - t0Ms) / 1e3
    // cold pass: first execution of every query in this JVM, writing the
    // result the oracle check reads; in one fixed order, so the first-use
    // costs of shared code land on the same queries in every run
    val out = s"$work/results"
    names.foreach { q =>
      spark.catalog.clearCache()
      op("cold", q, "ncore")(SparkEntry.queries(q)(spark, data).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$q"))()
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Run.json.writeValueAsString(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    // timed passes: every query once per pass, in a fresh seeded order
    var passes = 0
    var spent = 0.0
    while (passes < p("min_passes") || spent < seconds) {
      val t0 = System.nanoTime()
      rnd.shuffle(names).foreach { q =>
        spark.catalog.clearCache()
        op("query", q, "ncore")(SparkEntry.queries(q)(spark, data)
          .write.format("noop").mode("overwrite").save())()
      }
      passes += 1
      spent += (System.nanoTime() - t0) / 1e9
    }
    facts("passes") = passes
    // builder calls alone, for the builders that only read and plan: the
    // program's table reads (schema, scan planning for the fan-out
    // decision) and query planning, several samples per query
    val planned = params("builder_queries").split(",").toSet
    val builders = names.filter(q => planned.contains(q.takeWhile(_ != '_')))
    facts("builders") = builders.size
    (1 to p("builder_reps")).foreach { _ =>
      rnd.shuffle(builders).foreach { q =>
        spark.catalog.clearCache()
        op("build", q, "ncore")(SparkEntry.queries(q)(spark, data))()
      }
    }
    if (trace) facts("heap_live_mb") = heapLiveMb()
  }
}

object Run {
  /** JSON for the result file (Scala collections through the Scala module). */
  val json: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
}

object Stat {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}
