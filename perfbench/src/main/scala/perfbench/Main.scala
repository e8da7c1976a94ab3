package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators._
import graft.pipeline._

/** The benchmark's client: one process, one SparkSession, one closed-loop
  * client thread issuing the workload's operations through the engine's
  * public entry points. Writes the timings (and, traced, the spans and
  * per-layer counts) as JSON; `run.py` checks outputs and prints metrics.
  *
  * Usage: Main <workload> <dataDir> <outFile> <seed> <seconds> <trace 0|1> <checkMax>
  * The working directory is the run's scratch root: the engine keeps its
  * zones under `target/`, relative to it.
  */
object Main {

  final case class Op(name: String, phase: String, startNs: Long, endNs: Long,
      err: Option[String]) {
    def sec: Double = (endNs - startNs) / 1e9
  }

  /** Query name -> the module that registers it. */
  lazy val moduleOf: Map[String, String] = Seq(
    "etlops" -> EtlOps.queries, "relational" -> Relational.queries,
    "jsontimeops" -> JsonTimeOps.queries, "textops" -> TextOps.queries,
    "vectorops" -> VectorOps.queries, "rawzone" -> RawZone.queries,
    "multimodalops" -> MultimodalOps.queries, "scalarops" -> ScalarOps.queries,
    "qualityops" -> QualityOps.queries, "graphops" -> GraphOps.queries)
    .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** Modules with queries in a timed set: the light set or, traced, the
    * probes (GraphOps and MultimodalOps register heavy queries only).
    */
  val Modules: Seq[String] = Seq("textops", "qualityops", "vectorops",
    "relational", "scalarops", "jsontimeops", "etlops", "rawzone", "graphops",
    "multimodalops")

  /** The registry's light queries: neither benched in a child JVM of their
    * own (heavy) nor flagged as carrying real post-shuffle compute
    * (midweight). At sf0.1 their cost is mostly per-query fixed cost.
    */
  val InteractiveQueries: Seq[String] = SparkEntry.queries.keys.toSeq
    .filterNot(q => SparkEntry.heavyQueries(q) || SparkEntry.midweightBatchQueries(q))

  /** Timed after the window in traced runs only: the index-backed queries
    * with their cold twins (the `*_index_vs_cold` ratios), the ingest, and
    * one query each of the modules the light set leaves out.
    */
  val ProbeQueries: Seq[String] = Seq("bm25_index_topk", "bm25_topk",
    "contamination_index_pairs", "decontamination_pairs", "streaming_neardup_ingest",
    "graph_triangle_stats", "media_feature_stats")

  /** Flags that switch the engine to the board protocol's confs; the
    * benchmark measures the production defaults, so none may be set.
    */
  def protocolFlags(env: Map[String, String]): Seq[String] = env.keys.toSeq.filter(k =>
    Set("GRAFT_CHILD_CONF", "GRAFT_FORCE_CHILD_CONF", "GRAFT_BENCH_ACTION")(k) ||
      k.startsWith("GRAFT_TEST_")).sorted

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outFile, seedS, secondsS, traceS, checkMaxS) = args
    val flags = protocolFlags(sys.env)
    if (flags.nonEmpty) {
      System.err.println(s"protocol flags must be unset: ${flags.mkString(", ")}")
      sys.exit(2)
    }
    val s0 = System.nanoTime()
    val spark = session()
    val sessionNs = System.nanoTime() - s0
    val tracer = new Tracer(spark, traceS == "1")
    val run = new Run(spark, tracer, dataDir, seedS.toLong, secondsS.toDouble,
      checkMaxS.toInt)
    try {
      workload match {
        case "interactive_sf01" => run.interactive()
        case "etl_refetch" => run.etl()
        case other => sys.error(s"unknown workload $other")
      }
      Files.write(Paths.get(outFile), run.resultJson(workload, s0 + sessionNs, sessionNs).getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** The production session: local[nproc], nproc shuffle partitions, UTC,
    * then the engine's own [[graft.Tables.configure]] (AQE on).
    */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File("spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.configure(spark)
    spark
  }
}

final class Run(spark: SparkSession, tracer: Tracer, sf: String, seed: Long,
    seconds: Double, checkMax: Int) {
  import Main._

  val ops = mutable.ArrayBuffer[Op]()
  private val checks = mutable.ArrayBuffer[String]()
  private val extra = mutable.LinkedHashMap[String, Double]()
  private var windowStartNs = 0L
  private var windowEndNs = 0L
  private var firstOpEpochMs = 0L
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
  private var gc0 = 0L
  private var windowGcMs = 0L
  private var windowHeapPeakMb = 0.0

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Marks the end of set-up: the next operation is the first timed one. */
  private def startWindow(): Unit = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    gc0 = gcMs
    firstOpEpochMs = System.currentTimeMillis()
    windowStartNs = System.nanoTime()
  }

  /** Marks the end of the timed window; JVM figures are read here, before
    * the probes and the output dumps that follow it.
    */
  private def endWindow(): Unit = {
    windowEndNs = System.nanoTime()
    windowGcMs = gcMs - gc0
    windowHeapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** One timed operation. A read-phase operation that makes the engine
    * build a zone artifact counts as failed: it should have found the
    * artifact committed.
    */
  private def op(name: String, phase: String, readOnly: Boolean)(body: => Unit): Op = {
    val zb0 = ZoneBuildTally.builds.get
    val t0 = System.nanoTime()
    val err = try { tracer.span(s"op/$phase") { body }; None } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    val t1 = System.nanoTime()
    val built = ZoneBuildTally.builds.get - zb0
    val o = Op(name, phase, t0, t1, err.orElse(
      if (readOnly && built > 0) Some(s"$built zone build(s) during a read phase") else None))
    ops += o
    o
  }

  private def query(name: String, phase: String, readOnly: Boolean = true): Op = {
    val fn = SparkEntry.queries(name)
    val o = op(name, phase, readOnly) {
      tracer.span(s"SparkEntry.queries/$name") {
        val df = fn(spark, sf)
        noop(df)
        // the query's own analysis ran when the DataFrame was built; the
        // write's execution (seen by the listener) re-plans, not re-analyses
        df.queryExecution.tracker.phases.get("analysis")
          .foreach(p => tracer.add("analysis_ms", p.durationMs))
      }
    }
    spark.catalog.clearCache()
    o
  }

  /** Writes the result of each named query for the output check, outside
    * every timed window: oracle-backed queries are compared against DuckDB,
    * the rest must return rows.
    */
  private def dumpResults(names: Seq[String]): Unit = names.foreach { name =>
    val dir = new File(s"check/$name").getAbsolutePath
    try {
      SparkEntry.queries(name)(spark, sf).coalesce(1).write.mode("overwrite").parquet(dir)
      val sql = SparkEntry.oracleSql.get(name)
      checks += s"""{"kind":"query","name":${Json.q(name)},"dir":${Json.q(dir)},""" +
        s""""sql":${sql.map(Json.q).getOrElse("null")}}"""
    } catch {
      case e: Throwable => checks += s"""{"kind":"error","name":${Json.q(name)},""" +
        s""""error":${Json.q(String.valueOf(e.getMessage).take(500))}}"""
    } finally spark.catalog.clearCache()
  }

  private def sample(names: Seq[String]): Seq[String] =
    if (names.size <= checkMax) names
    else new Random(seed ^ 0x5eed).shuffle(names).take(checkMax).sorted

  // ---------------------------------------------------------------- workloads

  /** The light queries at sf0.1, against zones committed in set-up, issued
    * one at a time in a seeded order: whole passes over the set until
    * `seconds` have passed.
    */
  def interactive(): Unit = {
    prebuild()
    val order = new Random(seed).shuffle(InteractiveQueries.sorted).toIndexedSeq
    startWindow()
    var i = 0
    while (i == 0 || i % order.size != 0 || (System.nanoTime() - windowStartNs) / 1e9 < seconds) {
      query(order(i % order.size), "query")
      i += 1
    }
    endWindow()
    // traced runs also time what the light set leaves out: the index-backed
    // queries beside their cold twins, the streaming ingest, graph and media
    if (tracer.enabled) ProbeQueries.foreach(query(_, "probe"))
    dumpResults(sample(ops.filter(_.phase == "query").map(_.name).distinct.toSeq) ++
      ops.filter(_.phase == "probe").map(_.name))
  }

  /** [[Prebuild.all]]; traced, each zone build it makes is first called on
    * its own so its time lands in its zone's span (same builds, same order),
    * and `Prebuild.all` must then find everything fresh: a build it still
    * makes means this list has drifted from the engine's, and fails the run.
    */
  private def prebuild(): Unit = tracer.span("Prebuild.all") {
    if (tracer.enabled) Seq[(String, () => Any)](
      "RawZone.ensureBuilt" -> (() => RawZone.ensureBuilt(spark, sf)),
      "RawZone.ensureCursorZone" -> (() => RawZone.ensureCursorZone(spark, sf)),
      "RawZone.ensureCsvZone" -> (() => RawZone.ensureCsvZone(spark, sf)),
      "RawZone.ensureOrcZone" -> (() => RawZone.ensureOrcZone(spark, sf)),
      "CompactedZone.ensureCompacted" -> (() => CompactedZone.ensureCompacted(spark, sf)),
      "DedupZone.ensurePairs" -> (() => DedupZone.ensurePairs(spark, sf)),
      "DedupZone.ensureClusters" -> (() => DedupZone.ensureClusters(spark, sf)),
      "DedupZone.ensureCorpusClusters" -> (() => DedupZone.ensureCorpusClusters(spark, sf)),
      "DedupZone.ensureContamination" -> (() => DedupZone.ensureContamination(spark, sf)),
      "DedupZone.ensureTrainPostings" -> (() => DedupZone.ensureTrainPostings(spark, sf)),
      "DedupZone.ensureLshIndex" -> (() => DedupZone.ensureLshIndex(spark, sf)),
      "DedupZone.ensureIngestArrivals" -> (() => DedupZone.ensureIngestArrivals(spark, sf)),
      "LexicalZone.ensureBm25Postings" -> (() => LexicalZone.ensureBm25Postings(spark, sf)),
      "LexicalZone.ensureBm25Df" -> (() => LexicalZone.ensureBm25Df(spark, sf)),
      "AnnZone.ensureIvfCentroids" -> (() => AnnZone.ensureIvfCentroids(spark, sf)),
      "AnnZone.ensureIvfLists" -> (() => AnnZone.ensureIvfLists(spark, sf)),
      "AnnZone.ensureIvfqLists" -> (() => AnnZone.ensureIvfqLists(spark, sf)),
      "AnnZone.ensureCorpusLshBuckets" -> (() => AnnZone.ensureCorpusLshBuckets(spark, sf)),
      "AnnZone.ensurePqCodebook" -> (() => AnnZone.ensurePqCodebook(spark, sf)),
      "AnnZone.ensurePqCodes" -> (() => AnnZone.ensurePqCodes(spark, sf)),
      "AnnZone.ensurePqCodebookRefined" -> (() => AnnZone.ensurePqCodebookRefined(spark, sf)),
      "AnnZone.ensurePqCodesRefined" -> (() => AnnZone.ensurePqCodesRefined(spark, sf)),
      "AnnZone.ensureLshBuckets" -> (() => AnnZone.ensureLshBuckets(spark, sf)),
      "MediaZone.ensureImageFeatures" -> (() => MediaZone.ensureImageFeatures(spark, sf))
    ).foreach { case (name, f) => tracer.span(name)(f()) }
    val built = Prebuild.all(spark, sf)
    if (tracer.enabled && built != 0)
      sys.error(s"Prebuild.all made $built build(s) the traced per-zone calls did not")
  }

  /** The reference chain: a raw zone of two built snapshots, then seeded
    * snapshot arrivals, each merged into the compacted zone and written out
    * as the workflow CSV; then one full recompute and one paged-connector
    * read of the whole history. The first arrival is merged in set-up, as
    * the warm-up of the merge path; the rest are timed.
    */
  def etl(): Unit = {
    val rawDir = tracer.span("RawZone.ensureBuilt") { RawZone.ensureBuilt(spark, sf) }
    val zoneDir = CompactedZone.compactedDir(sf)
    def csv(tag: String) = new File(s"csv/$tag").getAbsolutePath
    def mergeToCsv(tag: String): Unit = {
      val df = tracer.span("CompactedZone.compactedZoneRuns") {
        CompactedZone.compactedZoneRuns(spark, sf)
      }
      tracer.span("RawZone.writeWorkflowCsv") { RawZone.writeWorkflowCsv(df, csv(tag)) }
    }
    def land(parts: Seq[(File, String)]): Unit = parts.foreach { case (src, rel) =>
      val dst = new File(rawDir, rel)
      dst.getParentFile.mkdirs()
      Files.move(src.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    def arrivalCheck(i: Int): Unit =
      checks += s"""{"kind":"csv","name":"arrival-$i","dir":${Json.q(csv(s"arrival-$i"))},"upto":$i}"""
    tracer.span("CompactedZone.ensureCompacted") { CompactedZone.ensureCompacted(spark, sf) }
    mergeToCsv("base")
    checks += s"""{"kind":"csv","name":"base","dir":${Json.q(csv("base"))},"upto":-1}"""
    val staged = new File("staged").listFiles().filter(_.isDirectory)
      .map(_.getName.toInt).sorted
    land(landedParts(new File(s"staged/${staged.head}")))
    mergeToCsv(s"arrival-${staged.head}")
    arrivalCheck(staged.head)
    startWindow()
    var rewritten, upsertBytes, touched = 0L
    // a fixed set of arrivals, whatever `seconds` is
    staged.tail.foreach { i =>
      val before = files(zoneDir)
      val parts = landedParts(new File(s"staged/$i"))
      upsertBytes += parts.map(p => sizeOf(p._1)).sum
      op(s"arrival-$i", "arrival", readOnly = false) {
        land(parts)
        mergeToCsv(s"arrival-$i")
      }
      val after = files(zoneDir)
      val fresh = after.filter { case (p, st) => !before.get(p).contains(st) }
      rewritten += fresh.values.map(_._1).sum
      touched += fresh.keys.flatMap(p => "bucket=\\d+".r.findFirstIn(p)).toSet.size
      arrivalCheck(i)
    }
    op("recompute", "recompute", readOnly = true) {
      val df = tracer.span("RawZone.pipelineRuns") { RawZone.pipelineRuns(spark, sf) }
      tracer.span("RawZone.writeWorkflowCsv") { RawZone.writeWorkflowCsv(df, csv("recompute")) }
    }
    checks += s"""{"kind":"csv","name":"recompute","dir":${Json.q(csv("recompute"))},"upto":${staged.last}}"""
    op("paged_read", "paged", readOnly = true) {
      tracer.span("RawZone.pagedConnectorRuns") { noop(RawZone.pagedConnectorRuns(spark, sf)) }
    }
    spark.catalog.clearCache()
    endWindow()
    val pagedRows = RawZone.pagedConnectorRuns(spark, sf).count()
    checks += s"""{"kind":"count","name":"paged_read","rows":$pagedRows,"upto":${staged.last}}"""
    extra("compacted.buckets_touched") = touched.toDouble
    extra("compacted.bytes_rewritten") = rewritten.toDouble
    extra("compacted.write_amp") = if (upsertBytes > 0) rewritten.toDouble / upsertBytes else 0.0
    extra("compacted.zone_bytes") = sizeOf(new File(zoneDir)).toDouble
    extra("rawzone.bytes") = sizeOf(new File(rawDir)).toDouble
  }

  /** The leaf directories of one staged arrival with their raw-zone-relative
    * paths (`repo=<r>/extracted_at=<s>`).
    */
  private def landedParts(root: File): Seq[(File, String)] =
    root.listFiles().toSeq.filter(_.isDirectory).flatMap { repo =>
      repo.listFiles().toSeq.filter(_.isDirectory).map(s => s -> s"${repo.getName}/${s.getName}")
    }

  private def files(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally st.close()
    }
  }

  private def sizeOf(f: File): Long = files(f.getPath).values.map(_._1).sum

  // ------------------------------------------------------------------ output

  /** Per-layer metrics from the spans: layer self/total times, Spark work
    * by kind, planning phases, zone and JVM figures.
    */
  private def layers(sessionNs: Long): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val windowNs = math.max(1L, windowEndNs - windowStartNs)
    val timed = tracer.spans.filter(s => s.startNs >= windowStartNs && s.startNs < windowEndNs)
    def sum(key: String) = timed.map(_.count(key)).sum.toDouble
    def named(pred: String => Boolean) = timed.filter(s => pred(s.name))
    def secs(ss: Iterable[Span]) = ss.map(_.durNs).sum / 1e9
    m("session.start_s") = sessionNs / 1e9
    val analysis = sum("analysis_ms") / 1e3
    val optimization = sum("optimization_ms") / 1e3
    val planning = sum("planning_ms") / 1e3
    m("plan.analysis_s") = analysis
    m("plan.optimization_s") = optimization
    m("plan.planning_s") = planning
    m("plan.nodes") = sum("plan_nodes")
    m("plan.exchanges") = sum("plan_exchanges")
    val opWall = ops.filter(o => o.startNs >= windowStartNs && o.startNs < windowEndNs)
      .map(o => o.endNs - o.startNs).sum / 1e9
    m("plan.share") = if (opWall > 0) (analysis + optimization + planning) / opWall else 0.0
    m("jobs.count") = sum("jobs")
    m("jobs.stages") = sum("stages")
    m("jobs.tasks") = sum("tasks")
    m("jobs.sched_wait_s") = sum("sched_wait_ms") / 1e3
    m("exec.cpu_s") = sum("cpu_ns") / 1e9
    m("exec.run_s") = sum("run_ms") / 1e3
    m("exec.gc_s") = sum("gc_ms") / 1e3
    m("exec.busy_ratio") = sum("run_ms") / 1e3 /
      (windowNs / 1e9 * Runtime.getRuntime.availableProcessors)
    Seq("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
      "output_bytes").foreach(k => m(s"exec.$k") = sum(k))
    // module sums cover the window's queries and, traced, the probes after it
    val queried = tracer.spans.filter(s => s.startNs >= windowStartNs &&
      s.name.startsWith("SparkEntry.queries/"))
    Modules.foreach { mod =>
      val qs = queried.filter(s =>
        moduleOf.get(s.name.stripPrefix("SparkEntry.queries/")).contains(mod))
      m(s"$mod.s") = secs(qs)
      m(s"$mod.cpu_s") = qs.map(tracer.deep(_, "cpu_ns")).sum / 1e9
    }
    // zone builds: set-up builds count too (interactive and etl commit there)
    val all = tracer.spans
    def zone(prefix: String) = secs(all.filter(_.name.startsWith(prefix + ".ensure")))
    m("dedupzone.build_s") = zone("DedupZone")
    m("lexicalzone.build_s") = zone("LexicalZone")
    m("annzone.build_s") = zone("AnnZone")
    m("mediazone.build_s") = zone("MediaZone")
    m("prebuild.s") = secs(all.filter(_.name == "Prebuild.all"))
    m("zone.builds") = ZoneBuildTally.builds.get.toDouble
    m("zone.bytes") = sizeOf(new File("target")).toDouble
    def wall(q: String) = {
      val ss = all.filter(_.name == s"SparkEntry.queries/$q")
      if (ss.isEmpty) 0.0 else secs(ss) / ss.size
    }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    m("lexicalzone.index_vs_cold") = ratio(wall("bm25_index_topk"), wall("bm25_topk"))
    m("dedupzone.contam_index_vs_cold") =
      ratio(wall("contamination_index_pairs"), wall("decontamination_pairs"))
    val ingest = all.filter(_.name == "SparkEntry.queries/streaming_neardup_ingest")
    m("streaming.ingest_s") = secs(ingest)
    m("streaming.jobs") = ingest.map(tracer.deep(_, "jobs")).sum.toDouble
    m("compacted.merge_s") = secs(named(_ == "CompactedZone.compactedZoneRuns"))
    Seq("compacted.buckets_touched", "compacted.bytes_rewritten", "compacted.write_amp",
      "compacted.zone_bytes", "rawzone.bytes").foreach(k => m(k) = extra.getOrElse(k, 0.0))
    m("rawzone.csv_write_s") = secs(named(_ == "RawZone.writeWorkflowCsv"))
    m("rawzone.recompute_s") = ops.filter(_.name == "recompute").map(_.sec).sum
    m("sources.paged_scan_s") = secs(named(_ == "RawZone.pagedConnectorRuns"))
    m("jvm.gc_s") = windowGcMs / 1e3
    m("jvm.heap_peak_mb") = windowHeapPeakMb
    m("trace.overhead_s") = tracer.drainNs.get / 1e9
    m("trace.spans") = tracer.spans.size.toDouble
    m.toMap
  }

  /** Self time per layer, for set-up and for the timed window apart, plus
    * the part of each interval no span covers (client bookkeeping): along
    * the one client thread these add up to the interval's wall.
    */
  private def selfTimes(setupStartNs: Long): Map[String, Double] = {
    val self = tracer.selfNs
    def layer(s: Span) =
      if (s.name.startsWith("SparkEntry.queries/"))
        "SparkEntry.queries:" + moduleOf.getOrElse(s.name.stripPrefix("SparkEntry.queries/"), "?")
      else s.name
    Seq("setup" -> (setupStartNs, windowStartNs), "window" -> (windowStartNs, windowEndNs))
      .flatMap { case (tag, (from, to)) =>
        val in = tracer.spans.filter(s => s.startNs >= from && s.startNs < to)
        val covered = in.filter(_.parent == 0L).map(_.durNs).sum
        in.groupBy(layer).map { case (k, ss) => s"$tag/$k" -> ss.map(s => self(s.id)).sum / 1e9 } +
          (s"$tag/(outside spans)" -> (to - from - covered) / 1e9)
      }.toMap
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def resultJson(workload: String, setupStartNs: Long, sessionNs: Long): String = {
    def obj(m: Iterable[(String, Double)]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.q(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}")
    val opsJson = ops.map { o =>
      s"""{"name":${Json.q(o.name)},"phase":${Json.q(o.phase)},""" +
        s""""start_s":${Json.num((o.startNs - windowStartNs) / 1e9)},"dur_s":${Json.num(o.sec)},""" +
        s""""err":${o.err.map(Json.q).getOrElse("null")}}"""
    }.mkString("[", ",\n", "]")
    val traced = if (tracer.enabled)
      s""","layers":${obj(layers(sessionNs))},"self_s":${obj(selfTimes(setupStartNs))},"spans":${tracer.toJson}"""
    else ""
    s"""{"workload":${Json.q(workload)},"first_op_epoch_ms":$firstOpEpochMs,""" +
      s""""session_s":${Json.num(sessionNs / 1e9)},""" +
      s""""window_s":${Json.num((windowEndNs - windowStartNs) / 1e9)},""" +
      s""""peak_rss_mb":${Json.num(peakRssMb)},"ops":$opsJson,""" +
      s""""checks":${checks.mkString("[", ",\n", "]")}$traced}"""
  }
}
