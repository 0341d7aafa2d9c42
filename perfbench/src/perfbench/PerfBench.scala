package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The repository benchmark: one JVM, one `local[nproc]` session, one
  * workload, closed loop (the next repetition starts when the previous
  * one has finished and been checked).
  *
  * {{{
  * PerfBench --workload <ocr_pages|dedup_curate|ingest_gate> --seed <n>
  *           --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *           --spans <file> [--pin <query>=<rows>:<hash>]...
  * }}}
  *
  * `--trace 0` times the workload with tracing off and prints the
  * end-to-end metrics. `--trace 1` times the same untraced repetitions,
  * then half as many traced ones (spans + Spark listener counters),
  * then the per-layer probes; it prints the per-layer metrics and
  * writes the spans file.
  * Every repetition's outputs are checked; the last stdout line is the
  * result object.
  */
object PerfBench {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, data: String, spans: String, pins: Map[String, Digest])

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toSeq
    val m = kv.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val pins = kv.collect { case ("--pin", p) =>
      val Array(q, rows, hash) = p.split("[=:]")
      q -> Digest(rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
    }.toMap
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--data"), need("--spans"), pins)
  }

  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainNs = System.nanoTime()
    val mainMs = System.currentTimeMillis()
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors
    val workload: Workload = o.workload match {
      case "ocr_pages" => new OcrPages
      case "dedup_curate" => new QueryWorkload(Workload.DedupQueries, gate = false, nominalRepS = 11)
      case "ingest_gate" => new QueryWorkload(Workload.IngestQueries, gate = true, nominalRepS = 18)
      case w => sys.error(s"unknown workload $w")
    }
    val tracer = new Tracer
    val ctx = new Ctx(o, cpus, tracer)

    // set-up: session start + input generation/caching, three times;
    // the first round counts from JVM start and adds the JIT warm-up.
    // Only the last round's session is kept.
    val setupRounds = if (o.trace) 1 else 3
    val setups = (0 until setupRounds).map { r =>
      if (r > 0) { workload.release(ctx); ctx.spark.stop() }
      val t = System.nanoTime()
      ctx.spark = session(o.work, cpus)
      tracer.bind(ctx.spark.sparkContext)
      workload.prepare(ctx)
      if (r == 0) workload.warm(ctx)
      (System.nanoTime() - t) / 1e9 +
        (if (r == 0) (mainMs - jvmStartMs) / 1e3 + (t - mainNs) / 1e9 else 0.0)
    }
    System.err.println(s"[perfbench] set-up rounds (s): ${setups.mkString(", ")}")

    val gcBefore = gcSeconds()
    val untraced = ctx.timedReps(workload, o.seconds, traced = false)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val heapMb = liveHeapMb()
        Seq(
          ("setup_s", median(setups), "s"),
          ("job_s", median(untraced.map(_.jobS)), "s"),
          ("docs_per_s", median(untraced.map(_.docsPerS)), "docs/s"),
          ("heap_live_mb", heapMb, "MB"),
          ("ok_frac", ctx.okFrac, "ratio"))
      } else {
        val counters = new SparkCounters
        ctx.counters = counters
        ctx.spark.sparkContext.addSparkListener(counters)
        val traced = ctx.timedReps(workload, o.seconds / 2, traced = true)
        workload.probe(ctx)
        ctx.spark.sparkContext.removeSparkListener(counters)
        val measured = ctx.layerMedians ++ Map(
          "trace.overhead_s" -> (median(traced.map(_.jobS)) - median(untraced.map(_.jobS))),
          "jvm.gc_s" -> (gcSeconds() - gcBefore),
          "jvm.rss_peak_mb" -> rssPeakMb())
        val unknown = measured.keySet -- Workload.PerLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from the catalogue: $unknown")
        // layers this workload does not call read 0
        Workload.PerLayer.map { case (n, unit) => (n, measured.getOrElse(n, 0.0), unit) }
      }

    workload.release(ctx)
    ctx.spark.stop()
    ctx.failures.foreach { case (n, (k, e)) =>
      System.err.println(s"[perfbench] FAILED $n x$k: $e") }
    ctx.mismatches.foreach { case (n, d) => System.err.println(s"[perfbench] MISMATCH $n: $d") }
    if (untraced.isEmpty) {
      System.err.println("[perfbench] no repetition completed: no result")
      sys.exit(1)
    }
    if (o.trace) {
      val header = s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},"nproc":$cpus,""" +
        s""""xmx_mb":${Runtime.getRuntime.maxMemory >> 20},"spark":${Json.str(org.apache.spark.SPARK_VERSION)}}"""
      Files.createDirectories(Paths.get(o.spans).getParent)
      Files.write(Paths.get(o.spans), tracer.toJsonLines(header).asJava)
      System.err.println(s"[perfbench] spans written to ${o.spans}")
    }
    val correct = ctx.mismatches.isEmpty
    val ms = Json.obj(metrics.map { case (n, v, u) =>
      n -> s"""{"value":${fmt(v, u)},"unit":${Json.str(u)}}""" })
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":$ms}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def fmt(v: Double, unit: String): String =
    if (unit == "count" || unit == "bytes") v.toLong.toString else v.toString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after full collections. Collecting can hand Spark's
    * ContextCleaner more blocks to free, so collect until the reading
    * settles.
    */
  private def liveHeapMb(): Double = {
    def used() = { System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = used()
    var n = 2
    while (math.abs(cur - prev) > 0.5 && n < 10) { prev = cur; cur = used(); n += 1 }
    cur
  }

  /** Peak resident set (VmHWM) of this JVM. */
  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  // ---- output digests ------------------------------------------------------

  /** Row count plus an order-independent 64-bit hash (sum of row hashes). */
  final case class Digest(rows: Long, hash: Long) {
    override def toString: String = s"$rows:${java.lang.Long.toHexString(hash)}"
  }

  /** 64-bit hash of a row's fields; sequences print the same whatever
    * their collection class.
    */
  def rowHash(fields: Seq[Any]): Long = {
    val s = fields.map {
      case null => "\u0000"
      case q: scala.collection.Seq[_] => q.mkString("[", ",", "]")
      case v => v.toString
    }.mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) | (h2 & 0xffffffffL)
  }

  private val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Executes `df` in full and digests every row (the action that
    * forces a query in the timed region).
    */
  def digest(df: DataFrame): Digest = {
    val parts = df.mapPartitions { it =>
      var n, h = 0L
      it.foreach { r => n += 1; h += rowHash(r.toSeq) }
      Iterator((n, h))
    }(pairEnc).collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  // ---- filesystem ----------------------------------------------------------

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
  }

  /** (files, bytes) under `dir`. */
  def treeSize(dir: String): (Long, Long) = {
    val w = Files.walk(Paths.get(dir))
    try {
      val files = w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size(_: Path)).sum)
    } finally w.close()
  }
}

/** One repetition's end-to-end numbers. */
final case class RepResult(jobS: Double, docsPerS: Double)

/** Run state shared by the workloads: session, tracer, failure and
  * mismatch ledgers, per-layer samples.
  */
final class Ctx(val o: PerfBench.Opts, val cpus: Int, val tracer: Tracer) {
  var spark: SparkSession = _
  var counters: SparkCounters = _
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap.empty[String, (Long, String)]
  val mismatches = mutable.LinkedHashMap.empty[String, String]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def okFrac: Double = (attempted - failed).toDouble / attempted

  /** Runs `body` as `n` operations; if it throws, all `n` count as
    * failed and the error is kept under `name`.
    */
  def attempt[T](name: String, n: Long)(body: => T): Option[T] = {
    attempted += n
    try Some(body)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += n
        val (k, first) = failures.getOrElse(name, (0L, e.toString))
        failures(name) = (k + n, first)
        None
    }
  }

  /** Counts `n` failed operations reported by the program itself. */
  def failedOps(name: String, n: Long, what: String): Unit = if (n > 0) {
    failed += n
    val (k, first) = failures.getOrElse(name, (0L, what))
    failures(name) = (k + n, first)
  }

  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok && !mismatches.contains(name)) mismatches(name) = detail

  def layerSample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def layerMedians: Map[String, Double] =
    layer.map { case (k, v) => k -> PerfBench.median(v.toSeq) }.toMap

  /** Spark counters of the spans of repetition `rep` named `name`,
    * descendants included.
    */
  def countersOf(rep: Int, layerName: String, name: String): SparkCounters.Counts = {
    val spans = tracer.spans
    val roots = spans.filter(s => s.rep == rep && s.layer == layerName && s.name == name).map(_.id).toSet
    val kids = spans.groupMap(_.parent)(_.id)
    def all(ids: Set[Int]): Set[Int] =
      if (ids.isEmpty) ids else ids ++ all(ids.flatMap(i => kids.getOrElse(i, Nil)))
    org.apache.spark.sql.graft.ColumnBridge.waitForListeners(spark)
    counters.sum(all(roots))
  }

  /** Closed loop of a fixed number of repetitions: as many as fit in
    * `seconds` at the workload's nominal repetition time (at least one).
    * The count does not depend on how fast this host runs, so every run
    * reports the same repetitions. A repetition in which an operation
    * failed has no timing.
    */
  def timedReps(w: Workload, seconds: Double, traced: Boolean): Seq[RepResult] = {
    val n = math.max(1, (seconds / w.nominalRepS).toInt)
    val out = mutable.ArrayBuffer.empty[RepResult]
    tracer.enabled = traced
    for (i <- 0 until n) {
      val rep = if (traced) 1000 + i else i
      tracer.rep = rep
      w.rep(this, rep, traced).foreach(out += _)
    }
    tracer.enabled = false
    System.err.println(s"[perfbench] ${if (traced) "traced" else "untraced"} reps: " +
      out.map(r => f"${r.jobS}%.3f").mkString(", "))
    out.toSeq
  }
}

/** Prints the digest of each query result Verify dumped as parquet,
  * for pinning: `Pin <verify_out_dir> <query>...`.
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val spark = PerfBench.session(sys.props("java.io.tmpdir"), Runtime.getRuntime.availableProcessors)
    for (q <- args.tail) println(s"$q=${PerfBench.digest(spark.read.parquet(s"${args.head}/$q"))}")
    spark.stop()
  }
}
