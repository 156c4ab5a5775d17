package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables, Verify}
import graft.functions.Cols
import graft.operators.Issues
import graft.sources.{CsvIngest, Sinks}

/** The benchmark's JVM side: one workload, closed loop, one client thread.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *                          <data dir> <out dir> <cores> <contacts> [query...]
  *
  * A query workload names its mix (`SparkEntry.queries` keys) as the
  * trailing arguments; `upload_ingest` generates its uploads instead.
  *
  * Set-up is the session start plus one untimed warm-up pass of the mix:
  * for a query mix it is the `graft.Verify` dump the caller then compares
  * against the oracle. The timed window runs whole passes (each in a
  * seed-permuted order), at least [[MinPasses]] of them, until the
  * untraced requests add up to `seconds`. With tracing on, each request
  * runs untraced and traced back to back, and the traced ones feed the
  * per-layer table. Everything lands in `<out dir>`: result.json,
  * spans.jsonl, verify/, uploads/, staging/, issues/. */
object Harness {

  val Upload = "upload_ingest"

  /** The request order of one pass: a permutation fixed by (seed, pass). */
  def passOrder[A](items: Seq[A], seed: Long, pass: Int): Seq[A] =
    new Random(UploadGen.mix(seed, pass)).shuffle(items)

  /** Timed passes a run takes at least: two, so a median has each query
    * twice. Pass numbers are the same in every run, so every upload run
    * uploads the same pairings of encoding, size and delimiter, and with
    * the warm-up pass they make one whole `UploadGen.Cycle`. */
  val MinPasses: Int = 2

  final case class Result(id: String, name: String, pass: Int, traced: Boolean,
                          startNs: Long, endNs: Long, ok: Boolean) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  /** Runs a block as one named phase of the current request. */
  trait Phase { def apply[T](name: String)(f: => T): T }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, outDir, coresS, contactsS) = args.take(8)
    val mix = args.drop(8).toSeq
    require((workload == Upload) == mix.isEmpty, s"$workload: a query workload needs its mix")
    val seed = seedS.toLong; val seconds = secondsS.toDouble; val trace = traceS == "1"
    val cores = coresS.toInt
    val out = Paths.get(outDir).toAbsolutePath
    Files.createDirectories(out)
    mark("main")

    /** Generates and writes one pass's uploads (named `w-uN` for the
      * warm-up pass -1, `pP-uN` for timed pass P). */
    def uploadsFor(pass: Int): Seq[Upload] =
      UploadGen.passSpecs(seed, pass).zipWithIndex.map { case (spec, i) =>
        val name = if (pass < 0) s"w-u$i" else s"p$pass-u$i"
        val u = UploadGen.render(name, spec, UploadGen.mix(seed, pass) + i, contactsS.toLong)
        Files.createDirectories(out.resolve("uploads"))
        Files.write(out.resolve(s"uploads/$name.csv"), u.bytes)
        u
      }
    // Warm-up is one untimed pass, -1: a query mix's is the Verify dump
    // below. The warm-up's uploads are made first, so that their
    // generation is not charged to set-up.
    val genT0 = System.nanoTime()
    val warmupUploads = if (workload == Upload) uploadsFor(-1) else Nil
    val genMs = (System.nanoTime() - genT0) / 1e6

    def startSession(): SparkSession = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the same retained-state caps and cleaner cadence as graft.Bench
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "30")
      .config("spark.cleaner.periodicGC.interval", "120s")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()

    // A query mix's warm-up pass is the graft.Verify dump of the mix
    // (SPARK_GRAFT_ONLY restricts it), which is also the run's correctness
    // check; Verify stops its session, so the rest of the run gets a fresh
    // one in the same, now warm, JVM.
    if (workload != Upload) {
      startSession().sparkContext.setLogLevel("WARN")
      mark("session up")
      Verify.main(Array(dataDir, out.resolve("verify").toString))
      System.clearProperty("graft.verify")
      mark("verify dump done")
    }
    val spark = startSession()
    mark("session up")
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    CompileClock.installed

    val spans = mutable.ArrayBuffer.empty[Span]
    val traces = mutable.ArrayBuffer.empty[RequestTrace]
    val tableProbesMs = mutable.ArrayBuffer.empty[Double]
    val truths = mutable.LinkedHashMap.empty[String, Truth]
    val shareSpecs = mutable.ArrayBuffer.empty[UploadSpec]
    var nextId = 0

    def now(): Long = System.currentTimeMillis()

    /** Runs one request; with tracing on it is wrapped in job groups and
      * spans, and its listener events are drained before the next one. */
    def request(name: String, pass: Int, traced: Boolean, sinkDirs: Seq[Path] = Nil)
               (body: (SparkSession, Phase) => Unit): Result = {
      val id = s"r$nextId"; nextId += 1
      val ss = spark.newSession()
      val phases = mutable.ArrayBuffer.empty[Span]
      val phase = new Phase {
        def apply[T](p: String)(f: => T): T =
          if (!traced) f
          else {
            sc.setJobGroup(s"$id/$p", p)
            val t0 = now()
            try f finally {
              phases += Span(spans.length + phases.length + 1, p, t0, now(), -1, id)
              sc.clearJobGroup()
            }
          }
      }
      if (traced) {
        ss.listenerManager.register(tracer.queryListener(id))
        tracer.currentRequest = id
        tracer.enabled = true
      }
      val compile0 = CompileClock.totalMs
      val t0 = now(); val n0 = System.nanoTime()
      val ok = try { body(ss, phase); true } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e"); false
      }
      val n1 = System.nanoTime()
      val t1 = now()
      if (traced) {
        val compileMs = CompileClock.totalMs - compile0
        ListenerBusDrain(sc)
        tracer.enabled = false
        val root = Span(spans.length, "request", t0, t1, -1, id)
        val kids = phases.map(_.copy(parent = root.id)).toSeq
        spans += root; spans ++= kids
        val jobs = tracer.jobs.filter(_.group.startsWith(id + "/"))
        jobs.foreach { j =>
          val parent = kids.find(k => j.group == s"$id/${k.name}").map(_.id).getOrElse(root.id)
          spans += Span(spans.length, s"job${j.jobId}", j.start, j.end, parent, id)
        }
        val q = tracer.queryStats(id)
        val tablePaths = q.relations.asScala.toSeq.flatMap(_.location.rootPaths.map(_.getName))
          .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
          .filter(Tables.All.contains)
        // table-load probe on a fresh session: one timed load per table the
        // request read, outside its span
        tablePaths.distinct.foreach { t =>
          val probe = spark.newSession()
          val p0 = System.nanoTime()
          if (t == "events") Tables.events(probe, dataDir) else Tables.load(probe, dataDir, t)
          tableProbesMs += (System.nanoTime() - p0) / 1e6
        }
        val scans = if (q.csvScans.isEmpty) 0.0 else q.csvScans.sum.toDouble / q.csvScans.max
        val written = sinkDirs.flatMap(listFiles).filter(_.getFileName.toString.endsWith(".parquet"))
        traces += RequestTrace(root, kids, jobs, tracer.requestStats(id), q.analysisMs, q.optimizationMs,
          q.planningMs, tablePaths.length, scans, compileMs, tracer.blocks(id),
          written.map(Files.size).sum, written.length)
      }
      // the same per-request hygiene as graft.Bench: nothing a request
      // persisted outlives it (checkpointed blocks are freed by the cleaner)
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.filterNot(_.isCheckpointed).foreach(_.unpersist(blocking = false))
      // and pays its debt between timers: a collection lets the cleaner
      // release its shuffle files and broadcasts before the next request
      System.gc(); Thread.sleep(50)
      Result(id, name, pass, traced, n0, n1, ok)
    }

    // ------------------------------------------------------------ requests
    val queryFns = SparkEntry.queries
    def runQuery(name: String, pass: Int, traced: Boolean): Result =
      request(name, pass, traced) { (ss, phase) =>
        val df = phase("entry.construct")(queryFns(name)(ss, dataDir))
        phase("execute")(df.write.format("noop").mode("overwrite").save())
      }

    def runUpload(u: Upload, pass: Int, traced: Boolean): Result = {
      val path = out.resolve(s"uploads/${u.name}.csv").toString
      val uploadId = if (traced) s"${u.name}-t" else u.name
      truths(uploadId) = u.truth
      if (pass >= 0 && !traced) shareSpecs += u.spec
      val sinkDirs = Seq("staging", "issues").map(d => out.resolve(s"$d/upload_id=$uploadId"))
      request(uploadId, pass, traced, sinkDirs) { (ss, phase) =>
        phase("csv.validate")(CsvIngest.validateFile(path).left.foreach { e =>
          throw new IllegalStateException(s"${u.name} rejected: ${e.message}")
        })
        val staged = phase("csv.ingest")(
          CsvIngest.ingest(ss, path).withColumn("upload_id", lit(uploadId)))
        val issues = phase("issues") {
          // customer's well-formed contact emails (UploadGen.contactEmail's rule)
          val contacts = Tables.customer(ss, dataDir)
            .filter(col("c_custkey") % 7 =!= 0 && col("c_custkey") % 11 =!= 0)
            .select(concat(lit("user"), col("c_custkey").cast("string"), lit("@example.com"))
              .as("contact_email"))
            .filter(Cols.emailValid(col("contact_email")))
          def tagged(df: DataFrame, kind: String) =
            df.select(lit(kind).as("issue_type"), col("email"), col("upload_id"))
          Seq(
            tagged(Issues.invalidEmails(staged, "email"), "INVALID_EMAIL"),
            tagged(Issues.missingRequired(staged, Seq("email")), "MISSING_REQUIRED_FIELD"),
            tagged(Issues.duplicateKeys(staged, "upload_id", "email"), "DUPLICATE_EMAIL"),
            tagged(Issues.existingKeys(staged, contacts, "email", "contact_email", anti = false),
              "EXISTING_EMAIL"))
            .reduce(_ unionByName _)
        }
        phase("sinks.write") {
          Sinks.writePartitioned(staged, out.resolve("staging").toString, Seq("upload_id"))
          Sinks.writePartitioned(issues, out.resolve("issues").toString, Seq("upload_id"))
        }
      }
    }

    /** One pass over the mix. With `paired`, every item runs twice in a
      * row, untraced and traced, the order alternating item by item, so
      * the tracing overhead is read from like-for-like pairs. */
    def pass(p: Int, paired: Boolean): Seq[Result] = {
      val items: Seq[Boolean => Result] =
        if (workload == Upload)
          (if (p < 0) warmupUploads else uploadsFor(p)).map(u => runUpload(u, p, _))
        else passOrder(mix, seed, p).map(q => runQuery(q, p, _))
      items.zipWithIndex.flatMap { case (run, i) =>
        if (!paired) Seq(run(false))
        else if ((i + p) % 2 == 0) Seq(run(false), run(true))
        else Seq(run(true), run(false))
      }
    }

    // ------------------------------------------------------------- the run
    val warmup = if (workload == Upload) pass(-1, paired = false) else Nil
    mark("warm-up done")
    val firstRequestEpochMs = now()
    // At least MinPasses whole passes, so a slow machine does not shrink a
    // run to fewer, different requests. Beyond that the window is counted
    // in request time, so the between-request hygiene does not change it.
    val results = mutable.ArrayBuffer.empty[Result]
    var p = 0
    def timed = results.filterNot(_.traced)
    do { results ++= pass(p, paired = trace); p += 1 }
    while (p < MinPasses || timed.map(_.wallS).sum < seconds)

    mark("timed window done")
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc()
    val heapLiveMb = mem.getHeapMemoryUsage.getUsed / 1048576.0

    val untraced = results.filterNot(_.traced).toSeq
    val walls = untraced.map(_.wallS)
    val p50 = Stats.median(walls)
    // the timed window's wall, from the first request's start to the last
    // one's end: the between-request hygiene and whatever the engine left
    // to it (cleaner work, GC) count against throughput
    val windowS = (results.map(_.endNs).max - results.map(_.startNs).min) / 1e9
    val overheadPct =
      if (!trace) 0.0 else (results.filter(_.traced).map(_.wallS).sum / walls.sum - 1) * 100
    val layers = Layers.table(traces.toSeq, tableProbesMs.toSeq, cores, overheadPct)
    Files.write(out.resolve("spans.jsonl"), spans.map(_.json).asJava)

    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = new StringBuilder("{")
    json ++= s""""workload":${str(workload)},"seed":$seed,"trace":$trace,"cores":$cores,"""
    json ++= s""""gen_ms":${num(genMs)},"first_request_epoch_ms":$firstRequestEpochMs,"""
    json ++= s""""timed_wall_s":${num(untraced.map(_.wallS).sum)},"""
    json ++= s""""latency_p50_s":${num(p50)},"""
    json ++= s""""latency_p90_s":${Stats.tailQuantile(walls, 0.9).map(num).getOrElse("null")},"""
    json ++= s""""window_s":${num(windowS)},"""
    json ++= s""""throughput_rpm":${num(results.length / windowS * 60)},"""
    json ++= s""""heap_live_mb":${num(heapLiveMb)},"""
    json ++= (warmup ++ results).map(r =>
      s"""{"id":"${r.id}","name":${str(r.name)},"pass":${r.pass},"traced":${r.traced},"wall_s":${num(r.wallS)},"ok":${r.ok}}"""
    ).mkString(""""requests":[""", ",", "],")
    json ++= truths.map { case (k, t) => s"${str(k)}:${t.json}" }.mkString(""""uploads":{""", ",", "},")
    json ++= UploadGen.shares(shareSpecs.toSeq).map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString(""""shares":{""", ",", "},")
    json ++= layers.map { case (k, v, u) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString(""""layers":{""", ",", "}")
    json ++= "}"
    Files.writeString(out.resolve("result.json"), json.toString)

    spark.stop()
    mark("stopped")
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line with the seconds since JVM start, for the run log. */
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s $what")

  private def listFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
}
