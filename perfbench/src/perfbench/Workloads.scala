package perfbench

import graft.SparkEntry
import graft.fixtures.DocGen
import graft.image.{ImageCodec, SynthMediaStore}
import graft.model.{Doc, Span}
import graft.ocr.{Deskew, GlyphClassifier, LetterForms, OcrEngine, Otsu, Segmentation}
import graft.operators.Dedup
import graft.pipeline.ExtractionJob
import graft.streaming.IngestIndex
import graft.text.ArabicNormalizer
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

import PerfBench.{Digest, deleteTree, digest, rowHash, treeSize}

/** A benchmark workload. `prepare` + `warm` are the set-up (outside the
  * timed region); `rep` is one closed-loop repetition, checked before
  * it returns; `probe` runs the traced run's extra per-layer probes.
  */
trait Workload {
  /** Seconds of one repetition on the 4-core reference host; turns
    * --seconds into a repetition count.
    */
  def nominalRepS: Double
  def prepare(c: Ctx): Unit
  def warm(c: Ctx): Unit
  def rep(c: Ctx, i: Int, traced: Boolean): Option[RepResult]
  def probe(c: Ctx): Unit = ()
  def release(c: Ctx): Unit = ()

  protected def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Workload {
  /** (layer of the entry call, query). tp_full_curation, st_ingest and
    * tp_incremental_ingest are left out so that every run fits the run
    * budget.
    */
  val DedupQueries: Seq[(String, String)] = Seq(
    "operators" -> "dd_components", "operators" -> "tp_cluster_keep",
    "operators" -> "tp_lsh_components")
  val IngestQueries: Seq[(String, String)] = Seq("streaming" -> "st_ingest_indexed")

  /** Per-query Spark and plan counters. */
  private def queryMetrics(layer: String, q: String): Seq[(String, String)] = Seq(
    s"$layer.${q}_s" -> "s", s"spark.$q.jobs" -> "count", s"spark.$q.stages" -> "count",
    s"spark.$q.tasks" -> "count", s"spark.$q.shuffle_bytes" -> "bytes",
    s"spark.$q.spill_bytes" -> "bytes", s"spark.$q.core_util" -> "ratio",
    s"plan.$q.exchanges" -> "count", s"plan.$q.scans" -> "count")

  /** Every per-layer metric, in report order: (name, unit). */
  val PerLayer: Seq[(String, String)] =
    Seq("image.fetch", "image.decode", "ocr.binarize", "ocr.deskew_rank", "ocr.unshear",
      "ocr.segment", "ocr.classify", "ocr.letterforms", "ocr.recognize", "ocr.retry",
      "text.normalize").map(n => s"${n}_us_per_page" -> "us") ++
    Seq("ocr.glyphs_per_page" -> "count", "ocr.lines_per_page" -> "count",
      "pipeline.task_us_per_page" -> "us", "pipeline.core_util" -> "ratio",
      "pipeline.task_skew" -> "ratio", "pipeline.gc_frac" -> "ratio",
      "pipeline.shuffle_write_bytes" -> "bytes", "pipeline.sink_bytes" -> "bytes",
      "pipeline.resume_s" -> "s") ++
    (DedupQueries ++ IngestQueries).flatMap { case (l, q) => queryMetrics(l, q) } ++
    Seq("operators.pairs_s" -> "s", "operators.components_s" -> "s",
      "streaming.init_s" -> "s", "streaming.gate_s" -> "s",
      "streaming.state_bytes_written" -> "bytes", "streaming.state_files" -> "count",
      "streaming.admitted_frac" -> "ratio",
      "trace.overhead_s" -> "s", "jvm.rss_peak_mb" -> "MB", "jvm.gc_s" -> "s")

  /** Digest of extracted docs: doc id + spans in offset order. */
  def docHash(docId: String, spans: Seq[Span]): Long =
    rowHash(docId +: spans.sortBy(_.offset).map(s => (s.kind, s.text, s.media_ref, s.offset)))
}

/** `ocr_pages`: the resumable extraction job (the spark-submit path)
  * over a seeded synthetic corpus of page-like image spans, then a
  * resume re-run over the same directory.
  */
final class OcrPages extends Workload {
  // ~8.4k page images: three repetitions fit in a 15 s run, so the
  // median drops the first, least warm one
  private val nDocs = 3000
  val nominalRepS = 4.5
  private val maxSpans = 6
  private val imageRatio = 0.5
  private val sentencesPerImage = 10
  private var docs: Dataset[Doc] = _
  private var expected: Digest = _
  private var pages = 0L

  private def corpus(c: Ctx, n: Int, seed: Long): Dataset[Doc] =
    DocGen.synthetic(c.spark, n, seed, maxSpans, imageRatio, skewed = true, sentencesPerImage)

  private def cfg(c: Ctx) = ExtractionJob.Config(numPartitions = 8 * c.cpus)

  def prepare(c: Ctx): Unit = {
    docs = corpus(c, nDocs, c.o.seed).cache()
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    val parts = docs.mapPartitions { it =>
      var n, h, p = 0L
      it.foreach { d =>
        n += 1; h += Workload.docHash(d.doc_id, DocGen.expectedSpans(d))
        p += d.spans.count(_.kind == "image")
      }
      Iterator((n, h, p))
    }(enc).collect()
    expected = Digest(parts.map(_._1).sum, parts.map(_._2).sum)
    pages = parts.map(_._3).sum
  }

  /** Two extractions of a half-size corpus of another seed. */
  def warm(c: Ctx): Unit = for (i <- 0 until 2) {
    val out = s"${c.o.work}/ocr-warm-$i"
    ExtractionJob.runResumable(c.spark, corpus(c, nDocs / 2, c.o.seed + 1), out, cfg(c))
    deleteTree(out)
  }

  def rep(c: Ctx, i: Int, traced: Boolean): Option[RepResult] = {
    val out = s"${c.o.work}/ocr-rep-$i"
    val tr = c.tracer
    val res = c.attempt("ocr_pages.extract", pages) {
      val t0 = System.nanoTime()
      val (first, second, extractS) = tr("bench", "rep") {
        val first = tr("pipeline", "extract")(ExtractionJob.runResumable(c.spark, docs, out, cfg(c)))
        val extractS = seconds(t0)
        (first, tr("pipeline", "resume")(ExtractionJob.runResumable(c.spark, docs, out, cfg(c))), extractS)
      }
      val jobS = seconds(t0)
      c.failedOps("ocr_pages.failed_spans", first.failedSpans, "span OCR failed or normalized to empty")
      c.check("ocr_pages.resume", second.processedPartitions == 0,
        s"resume re-run processed ${second.processedPartitions} partitions")
      c.check("ocr_pages.docs", first.docs == nDocs, s"${first.docs} docs committed, want $nDocs")
      verify(c, out)
      if (traced) layerMetrics(c, i, out, jobS - extractS, extractS)
      RepResult(jobS, nDocs / extractS)
    }
    deleteTree(out)
    res
  }

  /** Output read back must equal DocGen.expectedSpans doc by doc. */
  private def verify(c: Ctx, out: String): Unit = {
    val got = ExtractionJob.readOutput(c.spark, out)
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    val parts = got.mapPartitions { it =>
      var n, h, err = 0L
      it.foreach { d =>
        n += 1; h += Workload.docHash(d.doc_id, d.spans)
        if (d.error.isDefined) err += 1
      }
      Iterator((n, h, err))
    }(enc).collect()
    val digestGot = Digest(parts.map(_._1).sum, parts.map(_._2).sum)
    c.failedOps("ocr_pages.doc_errors", parts.map(_._3).sum, "doc-level extraction error")
    if (digestGot != expected) {
      val spark = c.spark
      import spark.implicits._
      val want = docs.map(d => (d.doc_id, Workload.docHash(d.doc_id, DocGen.expectedSpans(d))))
        .toDF("doc_id", "want")
      val have = got.map(d => (d.doc_id, Workload.docHash(d.doc_id, d.spans))).toDF("doc_id", "have")
      val bad = want.join(have, Seq("doc_id"), "full_outer")
        .where(col("want").isNull || col("have").isNull || col("want") =!= col("have"))
      c.check("ocr_pages.output", ok = false,
        s"output digest $digestGot, want $expected; ${bad.count()} docs differ, e.g. " +
          bad.select("doc_id").as[String].take(5).mkString(", "))
    }
  }

  private def layerMetrics(c: Ctx, rep: Int, out: String, resumeS: Double, extractS: Double): Unit = {
    val k = c.countersOf(rep, "pipeline", "extract")
    c.layerSample("pipeline.task_us_per_page", k.runMs * 1000.0 / pages)
    c.layerSample("pipeline.core_util", k.runMs / (extractS * 1000 * c.cpus))
    c.layerSample("pipeline.task_skew", k.taskSkew)
    c.layerSample("pipeline.gc_frac", k.gcMs.toDouble / math.max(1L, k.runMs))
    c.layerSample("pipeline.shuffle_write_bytes", k.shuffleWrite.toDouble)
    c.layerSample("pipeline.sink_bytes", treeSize(ExtractionJob.dataDir(out, cfg(c).runId))._2.toDouble)
    c.layerSample("pipeline.resume_s", resumeS)
  }

  /** Replays a fixed sample of this seed's pages one at a time through
    * the public calls of each layer. `recognize` runs whole; the
    * sub-steps are replayed at its first deskew candidate, so
    * `ocr.retry` (recognize minus the replayed sub-steps) is the cost
    * of deskew fallbacks and page assembly.
    */
  override def probe(c: Ctx): Unit = {
    val samplePages = 240
    val refs = Iterator.from(0)
      .flatMap(i => DocGen.syntheticDoc(i, c.o.seed, maxSpans, imageRatio, skewed = true,
        sentencesPerImage).spans.sortBy(_.offset).filter(_.kind == "image").map(_.media_ref))
      .take(samplePages).toIndexedSeq
    val classifier = GlyphClassifier.default
    val engine = new OcrEngine(classifier)
    val tr = c.tracer
    tr.enabled = true
    val sums = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def timed[T](layer: String, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tr(layer, name)(body)
      sums(s"$layer.$name") += System.nanoTime() - t0
      r
    }
    var scratch: Array[Byte] = null
    var glyphs, lines = 0L
    refs.zipWithIndex.foreach { case (ref, p) =>
      tr.rep = 100000 + p
      tr("bench", "page") {
        val payload = timed("image", "fetch")(SynthMediaStore.fetch(ref, scratch))
        scratch = payload
        val img = timed("image", "decode")(ImageCodec.decode(payload))
        val res = timed("ocr", "recognize")(engine.recognize(img))
        glyphs += res.glyphsClassified
        lines += res.linesSegmented
        tr("ocr", "replay") {
          val bin = timed("ocr", "binarize")(Otsu.binarize(img))
          val ink = bin.inkCount
          if (ink >= 8 && ink <= bin.width * bin.height * 2 / 5) {
            val angle = timed("ocr", "deskew_rank")(Deskew.rankedAngles(bin)).head
            val straight = timed("ocr", "unshear")(Deskew.unshear(bin, angle))
            val segLines = timed("ocr", "segment") {
              Segmentation.lineBands(straight).map(b => Segmentation.segmentLine(straight, b))
            }
            val words = segLines.flatMap(_.words)
            val preds = timed("ocr", "classify")(
              classifier.classifyBatch(words.flatMap(_.glyphs.map(_.packed)).toArray))
            timed("ocr", "letterforms") {
              var at = 0
              words.foreach { w =>
                LetterForms.resolveWord(preds.slice(at, at + w.glyphs.length).map(_.glyph).toSeq)
                at += w.glyphs.length
              }
            }
          }
        }
        timed("text", "normalize")(ArabicNormalizer.normalizeBasicFast(res.text))
      }
    }
    tr.enabled = false
    val n = refs.size.toDouble
    Seq("image.fetch", "image.decode", "ocr.binarize", "ocr.deskew_rank", "ocr.unshear",
      "ocr.segment", "ocr.classify", "ocr.letterforms", "ocr.recognize", "text.normalize")
      .foreach(k => c.layerSample(s"${k}_us_per_page", sums(k) / 1e3 / n))
    val replayed = Seq("binarize", "deskew_rank", "unshear", "segment", "classify", "letterforms")
      .map(s => sums(s"ocr.$s")).sum
    c.layerSample("ocr.retry_us_per_page", (sums("ocr.recognize") - replayed) / 1e3 / n)
    c.layerSample("ocr.glyphs_per_page", glyphs / n)
    c.layerSample("ocr.lines_per_page", lines / n)
  }

  override def release(c: Ctx): Unit = docs.unpersist()
}

/** `dedup_curate` / `ingest_gate`: SparkEntry queries over the
  * fixed sf0.1 documents table, each result checked against its pinned
  * digest; `gate` adds the persisted ingest gate (initState, then
  * gateBatch x3 into a fresh state directory).
  */
final class QueryWorkload(queries: Seq[(String, String)], gate: Boolean, val nominalRepS: Double)
    extends Workload {
  private val nBatches = 3
  // state fan-out sized for a 2.5k-doc corpus and ~830-doc batches
  // (IngestIndex.DefaultStateBuckets = 64 writes ~1.5k files per run)
  private val stateBuckets = 8
  private val warmDocs = 1000
  private var nDocs = 0L
  private var offered = 0L

  private def docsIn(c: Ctx, dir: String): DataFrame = c.spark.read.parquet(s"$dir/documents.parquet")
  private def warmDir(c: Ctx) = s"${c.o.work}/warm-data"

  def prepare(c: Ctx): Unit = {
    val d = docsIn(c, c.o.data)
    nDocs = d.count()
    offered = d.where(col("doc_id") % 2 =!= 0).count()
    // warm-up input: the first docs of the table under another path,
    // so no state keyed by the input path carries into the timed region
    deleteTree(warmDir(c))
    d.where(col("doc_id") < warmDocs).write.parquet(s"${warmDir(c)}/documents.parquet")
  }

  def warm(c: Ctx): Unit = {
    for ((_, q) <- queries) {
      val before = c.spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      digest(SparkEntry.queries(q)(c.spark, warmDir(c)))
      System.err.println(f"[perfbench] warm-up $q ${seconds(t0)}%.3f s")
      ColumnBridge.reclaimNewRdds(c.spark, before)
    }
  }

  private def ops = queries.size + (if (gate) 1 + nBatches else 0)

  def rep(c: Ctx, i: Int, traced: Boolean): Option[RepResult] = {
    val tr = c.tracer
    var total = 0.0
    var ok = true
    tr("bench", "rep") {
      for ((layer, q) <- queries) {
        val before = c.spark.sparkContext.getPersistentRDDs.keySet
        val done = c.attempt(q, 1) {
          val t0 = System.nanoTime()
          var df: DataFrame = null
          val got = tr(layer, q) { df = SparkEntry.queries(q)(c.spark, c.o.data); digest(df) }
          val sec = seconds(t0)
          System.err.println(f"[perfbench] rep $i $q $sec%.3f s")
          total += sec
          val want = c.o.pins.get(q)
          c.check(q, want.contains(got), s"result $got, pinned ${want.getOrElse("nothing")}")
          if (traced) queryMetrics(c, i, layer, q, df, sec)
        }
        if (done.isEmpty) ok = false
        ColumnBridge.reclaimNewRdds(c.spark, before)
      }
      if (gate) {
        val out = s"${c.o.work}/gate-rep-$i"
        val done = c.attempt("persisted_gate", 1 + nBatches) {
          val (initS, gateS) = persistedGate(c, out)
          System.err.println(f"[perfbench] rep $i persisted gate init $initS%.3f s, gates $gateS%.3f s")
          total += initS + gateS
          checkGate(c, out, traced, initS, gateS)
        }
        if (done.isEmpty) ok = false
        deleteTree(out)
      }
    }
    if (ok) Some(RepResult(total, nDocs * ops / total)) else None
  }

  /** IngestIndex.initState over the even docs, then gateBatch for each
    * of the odd-doc batches (the st_ingest_indexed split); returns
    * (init seconds, gate seconds).
    */
  private def persistedGate(c: Ctx, out: String): (Double, Double) = {
    val d = docsIn(c, c.o.data)
    val tr = c.tracer
    val t0 = System.nanoTime()
    tr("streaming", "init") {
      IngestIndex.initState(d.where(col("doc_id") % 2 === 0), s"$out/state", bands = 8, rowsPerBand = 4,
        nStateBuckets = stateBuckets)
    }
    val initS = seconds(t0)
    val t1 = System.nanoTime()
    val newDocs = d.where(col("doc_id") % 2 =!= 0)
    for (k <- 0 until nBatches) tr("streaming", "gate") {
      val batch = newDocs.where(pmod(floor(col("doc_id") / 100).cast("long"), lit(nBatches.toLong)) === k)
      IngestIndex.gateBatch(batch, k.toLong, s"$out/state", s"$out/admitted",
        bands = 8, rowsPerBand = 4, threshold = 0.8)
    }
    (initS, seconds(t1))
  }

  /** The gate's admitted set must equal st_ingest_indexed's. */
  private def checkGate(c: Ctx, out: String, traced: Boolean, initS: Double, gateS: Double): Unit = {
    val admitted = c.spark.read.parquet(s"$out/admitted")
      .select(col("doc_id"), col("batch_id").cast("long"))
    val got = digest(admitted)
    val want = c.o.pins.get("st_ingest_indexed")
    c.check("persisted_gate", want.contains(got),
      s"admitted $got, st_ingest_indexed pinned ${want.getOrElse("nothing")}")
    if (traced) {
      val (files, bytes) = treeSize(s"$out/state")
      c.layerSample("streaming.init_s", initS)
      c.layerSample("streaming.gate_s", gateS)
      c.layerSample("streaming.state_files", files.toDouble)
      c.layerSample("streaming.state_bytes_written", bytes.toDouble)
      c.layerSample("streaming.admitted_frac", got.rows.toDouble / offered)
    }
  }

  private def queryMetrics(c: Ctx, rep: Int, layer: String, q: String, df: DataFrame, sec: Double): Unit = {
    val k = c.countersOf(rep, layer, q)
    val plan = df.queryExecution.executedPlan.toString
    c.layerSample(s"$layer.${q}_s", sec)
    c.layerSample(s"spark.$q.jobs", k.jobs.toDouble)
    c.layerSample(s"spark.$q.stages", k.stages.toDouble)
    c.layerSample(s"spark.$q.tasks", k.tasks.toDouble)
    c.layerSample(s"spark.$q.shuffle_bytes", k.shuffleWrite.toDouble)
    c.layerSample(s"spark.$q.spill_bytes", k.spill.toDouble)
    c.layerSample(s"spark.$q.core_util", k.runMs / (sec * 1000 * c.cpus))
    // PlanAudit's shuffle count: word-anchored, so Broadcast/Reused
    // exchanges are not counted
    c.layerSample(s"plan.$q.exchanges", "(?<![A-Za-z])Exchange ".r.findAllIn(plan).size.toDouble)
    c.layerSample(s"plan.$q.scans", plan.linesIterator.count(_.contains("Scan ")).toDouble)
  }

  /** dedup_curate: pair mining and component resolution timed apart
    * (Dedup.jaccardPairs materialized, then Dedup.nearDupComponents
    * over it).
    */
  override def probe(c: Ctx): Unit = if (queries.exists(_._2 == "dd_components")) {
    val tr = c.tracer
    tr.enabled = true
    tr.rep = 200000
    val before = c.spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val pairs = tr("operators", "pairs") {
      Dedup.jaccardPairs(docsIn(c, c.o.data), idWindow = 25, threshold = 0.8).localCheckpoint(true)
    }
    val t1 = System.nanoTime()
    val labels = tr("operators", "components") {
      digest(Dedup.nearDupComponents(pairs).select(col("id"), col("label")))
    }
    c.layerSample("operators.pairs_s", (t1 - t0) / 1e9)
    c.layerSample("operators.components_s", seconds(t1))
    c.check("dd_components.split", c.o.pins.get("dd_components").contains(labels),
      s"components over materialized pairs $labels, pinned ${c.o.pins.get("dd_components")}")
    tr.enabled = false
    ColumnBridge.reclaimNewRdds(c.spark, before)
  }

  override def release(c: Ctx): Unit = deleteTree(warmDir(c))
}
