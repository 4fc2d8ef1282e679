package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.operators.Dedup
import graft.streaming.Streams

/** The benchmark's JVM side: runs one workload in one session from one
  * client thread and writes what it measured to `<work>/result.json`.
  * `perfbench/run.py` generates the inputs, starts this program, checks
  * correctness and prints the metrics; see perfbench/README.md.
  *
  * The engine is driven only through its public surface: the
  * `SparkEntry.queries` registry, the `Streams` ingest and fold calls,
  * and Spark's listener APIs. With `--trace 1` a SparkListener and a
  * QueryExecutionListener attribute every job, stage and query plan to
  * the op that ran it through local properties the client thread sets.
  */
object PerfBench {

  /** Ops of each batch workload, as registry-name prefixes. */
  val Workloads: Map[String, Seq[String]] = Map(
    "lab_queries" -> Seq("q02_", "q04_", "q05_", "q06_", "q07_", "q10_",
      "q12_", "q17_", "q18_", "q19_", "q22_", "q28_", "q29_", "q37_", "q39_",
      "q42_", "q44_", "q48_", "q49_", "q60_", "q68_", "q83_", "q92_", "q166_"),
    "neardup_graph" -> Seq("q31_", "q32_", "q35_", "q74_", "q100_", "q102_",
      "q117_", "q118_", "q122_", "q123_", "q126_", "q137_", "q165_",
      "q167_", "q169_"),
    "corpus_maintenance" -> Seq("q164_", "q170_", "q172_", "q173_", "q175_",
      "q177_", "q178_"),
    // harness only: ops that fail their oracle on some seeds (see
    // perfbench/README.md), kept runnable so a fix or a regression shows
    "lab_known_defects" -> Seq("q01_", "q08_", "q09_"))

  /** Workloads whose state tables are dropped before every pass. */
  val ColdPasses: Set[String] = Set("corpus_maintenance")

  final case class Args(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"),
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("selftest")) { SelfTest.run(argv.tail); return }
    val a = parseArgs(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    new File(a.work).mkdirs()
    val spark = session(a.cores, a.work, "perfbench")
    val readyMs = System.currentTimeMillis()
    val trace = if (a.trace) Some(Trace.install(spark, a.cores, a.work)) else None
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "cores" -> a.cores, "trace" -> a.trace,
      "jvm_start_epoch_ms" -> jvmStart, "session_ready_epoch_ms" -> readyMs)
    try {
      if (a.workload == "stream_ingest") StreamWorkload.run(spark, a, trace, out)
      else BatchWorkload.run(spark, a, trace, out)
      out("driver_heap_mb") = heapAfterGcMb()
      trace.foreach { t =>
        out("functions") = FunctionLayer.run(spark, a.data)
        out("spans") = t.spans.toJson
      }
    } finally {
      Files.write(Paths.get(a.work, "result.json"),
        Json(out).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** The engine configuration graft.Bench and graft.Verify use, with the
    * warehouse and scratch space inside the benchmark's work directory. */
  def session(cores: Int, work: String, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Least heap in use over three full collections, so garbage that a
    * Spark cleaner thread releases a moment late does not count. */
  def heapAfterGcMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.take(1).mkString.take(300)

  /** Marks every job the client thread submits inside `body` with the op
    * and the phase within it; the trace listener reads both back. */
  def tagged[T](spark: SparkSession, op: String, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, op)
    sc.setLocalProperty(Trace.PhaseKey, phase)
    try body
    finally {
      sc.setLocalProperty(Trace.OpKey, null)
      sc.setLocalProperty(Trace.PhaseKey, null)
    }
  }

  /** Runs `body` inside a span when tracing. */
  def spanned[T](trace: Option[Trace], name: String, parent: Option[Span],
      op: String)(body: => T): T = trace match {
    case Some(t) => t.spans.time(name, parent, op)(body)
    case None => body
  }

  def nowMs: Double = System.nanoTime() / 1e6
}

/** lab_queries, neardup_graph, corpus_maintenance: closed-loop passes
  * over registry queries. Each op is the registry call (building the
  * DataFrame, including any eager jobs the builder runs) followed by a
  * `noop` write that materializes the whole result. */
object BatchWorkload {
  import PerfBench._

  def resolve(prefixes: Seq[String]): Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq
    prefixes.map { p =>
      names.filter(_.startsWith(p)) match {
        case Seq(n) => n
        case other => sys.error(s"op prefix $p matches ${other.size} queries")
      }
    }
  }

  /** Drops every graft_* table and view, so the next pass rebuilds all
    * maintenance state from the documents. */
  def dropState(spark: SparkSession, work: String): Unit = {
    spark.catalog.listTables().collect().filter(_.name.startsWith("graft_"))
      .foreach { t =>
        if (t.isTemporary) spark.catalog.dropTempView(t.name)
        else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
      }
    Option(new File(work, "warehouse").listFiles).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).foreach(deleteTree)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def run(spark: SparkSession, a: Args, trace: Option[Trace],
      out: mutable.Map[String, Any]): Unit = {
    val ops = resolve(Workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}")))
    val cold = ColdPasses(a.workload)
    val fns = ops.map(SparkEntry.queries)

    // untimed warm-up pass, which is also the correctness pass: every op
    // writes its full result as parquet for the oracle compare
    val verifyDir = new File(a.work, "verify")
    val t0 = nowMs
    if (cold) dropState(spark, a.work)
    val warmErrors = mutable.LinkedHashMap[String, String]()
    val warmMs = mutable.LinkedHashMap[String, Double]()
    ops.zip(fns).foreach { case (name, fn) =>
      val w0 = nowMs
      try tagged(spark, s"warm/$name", "warm") {
        fn(spark, a.data).write.mode("overwrite")
          .parquet(new File(verifyDir, name).getPath)
      } catch { case e: Throwable => warmErrors(name) = errorText(e) }
      warmMs(name) = nowMs - w0
    }
    out("warmup_s") = (nowMs - t0) / 1e3
    out("warmup_errors") = warmErrors
    out("warmup_ms") = warmMs
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.write(new File(verifyDir, "oracle_sql.json").toPath,
      Json(oracle).getBytes(StandardCharsets.UTF_8))

    // timed closed-loop passes until the measuring window is used up; a
    // pass that starts inside the window runs to its end
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    trace.foreach(_.startMeasuring())
    val windowEnd = nowMs + a.seconds * 1e3
    var pass = 0
    while (pass == 0 || nowMs < windowEnd) {
      pass += 1
      if (cold) dropState(spark, a.work)
      trace.foreach(_.beginPass())
      val p0 = nowMs
      var serviceMs = 0.0
      ops.zip(fns).foreach { case (name, fn) =>
        val op = s"p$pass/$name"
        val span = trace.map(_.spans.open("op", None, op))
        val s0 = nowMs
        var build = Double.NaN
        var action = Double.NaN
        var analysisMs = 0L
        val err = try {
          val df = tagged(spark, op, "build") {
            spanned(trace, "build", span, op)(fn(spark, a.data))
          }
          val s1 = nowMs
          build = s1 - s0
          if (trace.isDefined) analysisMs = df.queryExecution.tracker.phases
            .get("analysis").map(_.durationMs).getOrElse(0L)
          tagged(spark, op, "action") {
            spanned(trace, "action", span, op) {
              df.write.format("noop").mode("overwrite").save()
            }
          }
          action = nowMs - s1
          None
        } catch { case e: Throwable => Some(errorText(e)) }
        val ms = nowMs - s0
        serviceMs += ms
        for (t <- trace; s <- span) t.spans.close(s)
        val layers = trace.map(_.endOp(op, analysisMs)).getOrElse(Map.empty)
        samples += Map("op" -> name, "pass" -> pass, "ms" -> ms,
          "build_ms" -> build, "action_ms" -> action,
          "error" -> err.orNull) ++ layers
      }
      val wall = (nowMs - p0) / 1e3
      // the layer split sees the ops' own time, not the tracer's per-op
      // drain and directory walk in `endOp`
      passes += (Map[String, Any]("pass" -> pass, "s" -> wall) ++
        trace.map(_.endPass(serviceMs / 1e3)).getOrElse(Map.empty))
    }
    out("ops") = ops
    out("samples") = samples
    out("passes") = passes
  }
}

/** stream_ingest: fixed-size document batches screened by
  * `Streams.dedupIngestBatch` against a fingerprint store and index, the
  * store folded into the index by `Streams.foldFingerprintStore` on every
  * `foldEvery`-th batch. The stream starts with closed-loop warm-up
  * batches, then a closed-loop drain of its first batches runs into a
  * fresh store and index, then the stream goes on open loop with one
  * batch due every `cadenceMs`. */
object StreamWorkload {
  import PerfBench._

  val BatchDocs = 125
  /** One batch due per second: a closed-loop drain on 4 cores takes about
    * 0.7 s per batch, folds included, so the ingest stays about 70% busy.
    * At 0.8 s a slightly slower run queued up and never caught up. */
  val CadenceMs = 1000L
  val WarmBatches = 10
  val FoldEvery = 10

  final case class Batch(id: Long, rows: java.util.List[Row])

  def run(spark: SparkSession, a: Args, trace: Option[Trace],
      out: mutable.Map[String, Any]): Unit = {
    val docs = spark.read.parquet(s"${a.data}/documents.parquet")
    val schema = docs.schema
    // arrival order is the file's row order, which the seed shuffles
    val all = docs.collect().toSeq
    // timed batches: the window's worth, and at least the 20 a median needs
    val n = math.max(20, math.ceil(a.seconds * 1e3 / CadenceMs).toInt)
    val total = WarmBatches + n
    require(all.size >= total * BatchDocs,
      s"stream_ingest needs ${total * BatchDocs} documents, found ${all.size}")
    val batches = (0 until total).map(i =>
      Batch(i + 1L, all.slice(i * BatchDocs, (i + 1) * BatchDocs).asJava))
    out("batches") = total
    out("drain_batches") = n
    out("batch_docs") = BatchDocs
    out("cadence_ms") = CadenceMs

    def runBatch(tag: String, b: Batch, dirs: File, index: String): Unit = {
      val op = s"$tag/${b.id}"
      val batch = spark.createDataFrame(b.rows, schema)
      tagged(spark, op, "ingest") {
        spanned(trace, "ingest", None, op) {
          Streams.dedupIngestBatch(batch, b.id, new File(dirs, "out").getPath,
            new File(dirs, "fp").getPath, indexTable = Some(index))
        }
      }
      if (b.id % FoldEvery == 0) tagged(spark, op, "fold") {
        spanned(trace, "fold", None, op) {
          Streams.foldFingerprintStore(spark, new File(dirs, "fp").getPath, index)
        }
      }
    }
    def storePartitions(dirs: File): Int =
      Option(new File(dirs, "fp").listFiles).toSeq.flatten
        .count(_.getName.startsWith("batch_id="))
    def prepare(tag: String): (File, String) = {
      val dirs = new File(a.work, s"stream/$tag")
      val index = s"perfbench_${tag}_fpidx"
      Dedup.ensureFingerprintIndex(spark, index)
      (dirs, index)
    }

    // warm-up (set-up): the stream's first WarmBatches batches, closed
    // loop; the last one folds (WarmBatches is a multiple of FoldEvery),
    // so every timed batch probes a non-empty index
    val t0 = nowMs
    val (oDirs, oIdx) = prepare("open")
    batches.take(WarmBatches).foreach(b => runBatch("open", b, oDirs, oIdx))
    out("warmup_s") = (nowMs - t0) / 1e3

    // closed-loop drain of the stream's first n batches into a fresh
    // store and index: throughput and pass time. It runs before the open
    // loop, which then starts from a warmer JVM.
    val (dDirs, dIdx) = prepare("drain")
    val d0 = nowMs
    val drainErrors = batches.take(n).flatMap { b =>
      try { runBatch("drain", b, dDirs, dIdx); None }
      catch { case e: Throwable => Some(s"batch ${b.id}: ${errorText(e)}") }
    }
    val drainWall = (nowMs - d0) / 1e3

    // open loop, same stream: timed batch i is due at start + i * cadence;
    // a batch that is late starts at once, and its latency counts from
    // when it was due
    trace.foreach(_.startMeasuring())
    trace.foreach(_.beginPass())
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val timed = batches.drop(WarmBatches)
    val start = nowMs
    var backlogMax = 0
    var storeMax = 0
    timed.zipWithIndex.foreach { case (b, i) =>
      val due = start + i * CadenceMs
      val wait = due - nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val begin = nowMs
      storeMax = math.max(storeMax, storePartitions(oDirs))
      backlogMax = math.max(backlogMax,
        timed.indices.count(j => j > i && start + j * CadenceMs <= begin))
      val err = try { runBatch("open", b, oDirs, oIdx); None }
      catch { case e: Throwable => Some(errorText(e)) }
      val end = nowMs
      val layers = trace.map(_.endOp(s"open/${b.id}")).getOrElse(Map.empty)
      samples += Map("op" -> (if (b.id % FoldEvery == 0) "ingest+fold" else "ingest"),
        "batch" -> b.id, "ms" -> (end - due), "lag_ms" -> (begin - due),
        "service_ms" -> (end - begin), "error" -> err.orNull) ++ layers
    }
    val openWall = (nowMs - start) / 1e3
    // the open loop's working time: its waits for batches to fall due are
    // not driver gaps or idle cores of the ingest
    val serviceS = samples.map(_("service_ms").asInstanceOf[Double]).sum / 1e3
    val openLayers = trace.map(_.endPass(serviceS)).getOrElse(Map.empty)
    out("open_s") = openWall
    out("backlog_max") = backlogMax
    out("samples") = samples
    out("store_partitions") = storeMax

    trace.foreach(_.stopMeasuring())
    out("drain_errors") = drainErrors
    out("passes") = Seq(Map[String, Any]("pass" -> 1, "s" -> drainWall) ++ openLayers)
    out("docs_per_s") = n * BatchDocs / drainWall
    out("outputs") = Map("open" -> new File(oDirs, "out").getPath,
      "drain" -> new File(dDirs, "out").getPath)
  }
}

/** functions.<Expr>_ms: a projection that evaluates one native
  * expression over cached inputs derived from the generated tables,
  * median of three materializations through the noop sink. */
object FunctionLayer {
  val TargetRows = 10000

  def run(spark: SparkSession, data: String): Map[String, Double] = {
    val docs0 = spark.read.parquet(s"$data/documents.parquet")
    val emb0 = spark.read.parquet(s"$data/embeddings.parquet")
    def widen(df: DataFrame): DataFrame = {
      val copies = math.max(1L, math.ceil(TargetRows.toDouble / df.count()).toLong)
      df.crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
    }
    val toks = filter(split(col("text"), "\\s+"), t => t =!= "")
    val docs = widen(docs0).select(toks.as("toks"),
        Dedup.shingles(col("text"), 3).as("sh"))
      .withColumn("dtoks", array_distinct(col("toks"))).cache()
    val emb = widen(emb0).select(col("embedding").as("e")).cache()
    val pairs = emb0.select(col("embedding").as("a"))
      .crossJoin(emb0.select(col("embedding").as("b")).limit(
        math.max(1, TargetRows / math.max(1L, emb0.count()).toInt)))
      .cache()
    docs.count(); emb.count(); pairs.count()
    def time(df: DataFrame, c: Column): Double = {
      val proj = df.select(c.as("x"))
      proj.write.format("noop").mode("overwrite").save()
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        proj.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      runs.sorted.apply(1)
    }
    val res = Map(
      "WordNgrams" -> time(docs, graft.functions.WordNgrams(col("toks"), 3)),
      "MinHashSignature" -> time(docs, graft.functions.MinHashSignature(col("sh"), 64)),
      "SimHashSignature" -> time(docs, graft.functions.SimHashSignature(col("dtoks"))),
      "CosineSimilarity" -> time(pairs, graft.functions.CosineSimilarity(col("a"), col("b"))),
      "SignLshSignatures" -> time(emb, graft.functions.SignLshSignatures(col("e"), 16, 8)))
    docs.unpersist(); emb.unpersist(); pairs.unpersist()
    res
  }
}

final case class Span(id: Int, name: String, op: String, parent: Int,
    start: Double, var end: Double)

/** In-memory spans: name, start, end, parent and op id. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  private val origin = PerfBench.nowMs

  @volatile var enabled = true
  def clear(): Unit = synchronized(buf.clear())

  def open(name: String, parent: Option[Span], op: String): Span =
    synchronized {
      val s = Span(buf.size, name, op, parent.map(_.id).getOrElse(-1),
        PerfBench.nowMs - origin, Double.NaN)
      if (enabled) buf += s
      s
    }
  def close(s: Span): Unit = s.end = PerfBench.nowMs - origin
  def time[T](name: String, parent: Option[Span], op: String)(body: => T): T = {
    val s = open(name, parent, op)
    try body finally close(s)
  }
  /** A span whose bounds were observed elsewhere (a listener's job). */
  def add(name: String, op: String, parent: Int, startEpochMs: Long,
      endEpochMs: Long): Unit = synchronized {
    val shift = System.currentTimeMillis() - PerfBench.nowMs
    if (enabled) buf += Span(buf.size, name, op, parent, startEpochMs - shift - origin,
      endEpochMs - shift - origin)
  }
  def lastSpan(op: String, name: String): Int = synchronized {
    buf.lastIndexWhere(s => s.op == op && s.name == name)
  }
  def toJson: Seq[Map[String, Any]] = synchronized {
    buf.toSeq.map(s => Map("id" -> s.id, "name" -> s.name, "op" -> s.op,
      "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end))
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  private val GraftFrame = """^graft\.(?:[a-z_]+\.)*([A-Z][A-Za-z0-9_]*)[$.]""".r

  /** The object of the first graft.* frame of a call site, skipping the
    * benchmark's own frames; "action" when no engine frame is on the
    * stack (the op's final write). */
  def ownerOf(callSite: String): String =
    callSite.linesIterator
      .flatMap(l => GraftFrame.findFirstMatchIn(l.trim).map(_.group(1)))
      .nextOption().getOrElse("action")

  def install(spark: SparkSession, cores: Int, work: String): Trace = {
    val t = new Trace(spark.sparkContext, cores, new File(work))
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.plans)
    t
  }
}

/** The traced run's listener: jobs and stages keyed by the op and phase
  * local properties, query-planning phases from each QueryExecution's
  * tracker, written-file growth of the work directory per op. */
final class Trace(sc: org.apache.spark.SparkContext, cores: Int, work: File)
    extends SparkListener {
  import Trace._
  val spans = new Spans

  final case class JobRec(op: String, phase: String, owner: String,
      start: Long, var end: Long = -1L)
  final case class StageRec(op: String, var tasks: Int = 0,
      var cpuNs: Long = 0, var runMs: Long = 0, var gcMs: Long = 0,
      var readB: Long = 0, var writeB: Long = 0, var spillB: Long = 0)
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val stageOp = mutable.HashMap[Int, String]()

  @volatile private var measuring = false

  // SQL execution id -> owner of the call site that started it. Jobs of
  // an execution can be submitted from Spark's own threads (query-stage
  // and broadcast materialization), whose stacks hold no engine frame;
  // the execution's call site is the client thread's.
  private val execOwner = mutable.HashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execOwner(s.executionId) = ownerOf(s.details) }
    case _ =>
  }

  private def owner(props: java.util.Properties, site: String): String =
    Option(props.getProperty("spark.sql.execution.id"))
      .flatMap(id => execOwner.get(id.toLong)).filter(_ != "action")
      .getOrElse(ownerOf(site))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .filter(_ => measuring)
    op.foreach { o =>
      val phase = Option(e.properties.getProperty(PhaseKey)).getOrElse("")
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      jobs(e.jobId) = JobRec(o, phase, owner(e.properties, site), e.time)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      spans.add("job", j.op, spans.lastSpan(j.op, j.phase), j.start, e.time)
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .filter(_ => measuring).foreach(o => stageOp(e.stageInfo.stageId) = o)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      val r = stages.getOrElseUpdate(info.stageId, StageRec(op))
      r.tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        r.cpuNs += m.executorCpuTime
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.readB += m.shuffleReadMetrics.totalBytesRead
        r.writeB += m.shuffleWriteMetrics.bytesWritten
        r.spillB += m.diskBytesSpilled
      }
    }
  }

  final case class PlanRec(analysisMs: Long, optimizerMs: Long, planningMs: Long)
  private val planQueue = new ConcurrentLinkedQueue[PlanRec]()
  val plans: QueryExecutionListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      planQueue.add(PlanRec(ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  // --- per-op and per-pass readings ----------------------------------
  private var written: Map[String, (Long, Long)] = Map.empty
  private val pass = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  private val passOwners = mutable.HashMap[String, Double]().withDefaultValue(0.0)

  def startMeasuring(): Unit = {
    org.apache.spark.PerfBenchBus.drain(sc)
    synchronized { jobs.clear(); stages.clear(); stageOp.clear() }
    planQueue.clear()
    spans.clear()
    measuring = true
    written = snapshot()
  }
  def stopMeasuring(): Unit = {
    org.apache.spark.PerfBenchBus.drain(sc)
    measuring = false
    spans.enabled = false
  }
  def beginPass(): Unit = { pass.clear(); passOwners.clear() }

  /** Files under the work directory (warehouse, outputs, scratch) by
    * path, with size and modification time. */
  private def snapshot(): Map[String, (Long, Long)] = {
    val acc = mutable.HashMap[String, (Long, Long)]()
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(walk)
      else acc(f.getPath) = (f.length, f.lastModified)
    Seq("warehouse", "stream", "tmp").map(new File(work, _)).foreach(walk)
    acc.toMap
  }

  /** Everything attributed to `op`, after the bus has delivered it.
    * `analysisMs` is the analysis of the op's own DataFrame, which runs
    * when the DataFrame is built, outside any executed query. */
  def endOp(op: String, analysisMs: Long = 0L): Map[String, Any] = {
    org.apache.spark.PerfBenchBus.drain(sc)
    val now = snapshot()
    val changed = now.filter { case (p, v) => !written.get(p).contains(v) }
    written = now
    val ps = Iterator.continually(planQueue.poll()).takeWhile(_ != null).toSeq
    synchronized {
      val js = jobs.values.filter(_.op == op).toSeq
      val ss = stages.values.filter(_.op == op).toSeq
      // union of job intervals: concurrent jobs (broadcasts) count once
      val busy = js.map(j => (j.start, if (j.end < 0) j.start else j.end))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, hi), (s, e)) =>
          if (e <= hi) (acc, hi) else (acc + e - math.max(s, hi), e)
        }._1 / 1e3
      val cpu = ss.map(_.cpuNs).sum / 1e9
      val m = Map[String, Double](
        "plans.analysis_ms" -> (analysisMs + ps.map(_.analysisMs).sum).toDouble,
        "plans.optimizer_ms" -> ps.map(_.optimizerMs).sum.toDouble,
        "plans.planning_ms" -> ps.map(_.planningMs).sum.toDouble,
        "plans.executions" -> ps.size.toDouble,
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> ss.size.toDouble,
        "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
        "spark.job_busy_s" -> busy,
        "spark.executor_cpu_s" -> cpu,
        "spark.executor_run_s" -> ss.map(_.runMs).sum / 1e3,
        "spark.jvm_gc_s" -> ss.map(_.gcMs).sum / 1e3,
        "spark.shuffle_read_mb" -> ss.map(_.readB).sum / 1048576.0,
        "spark.shuffle_write_mb" -> ss.map(_.writeB).sum / 1048576.0,
        "spark.spill_disk_mb" -> ss.map(_.spillB).sum / 1048576.0,
        "sources.bytes_written_mb" -> changed.values.map(_._1).sum / 1048576.0,
        "sources.files_written" -> changed.size.toDouble)
      m.foreach { case (k, v) => pass(k) += v }
      js.groupBy(_.owner).foreach { case (o, g) =>
        passOwners(s"operators.$o.jobs") += g.size
        passOwners(s"operators.$o.job_s") +=
          g.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      }
      jobs.filterInPlace((_, j) => j.op != op)
      stages.filterInPlace((_, s) => s.op != op)
      m ++ js.groupBy(_.owner).map { case (o, g) => s"operators.$o.jobs" -> g.size.toDouble }
    }
  }

  /** Pass totals, plus the layer numbers derived from the time the
    * pass's ops took, `endOp` calls left out. */
  def endPass(serviceS: Double): Map[String, Any] = {
    val m = pass.toMap ++ passOwners.toMap
    val cpu = m.getOrElse("spark.executor_cpu_s", 0.0)
    m ++ Map(
      "spark.driver_gap_s" -> (serviceS - m.getOrElse("spark.job_busy_s", 0.0)),
      "spark.core_util" -> cpu / (serviceS * cores),
      "spark.idle_core_s" -> (serviceS * cores - cpu))
  }
}

/** A two-op fixture that checks job attribution: op "a" runs one job
  * and op "b" three, each through the same tagging the workloads use. */
object SelfTest {
  def run(argv: Array[String]): Unit = {
    val owners = Seq(
      "perfbench.BatchWorkload$.run(PerfBench.scala:1)\n" +
        "graft.SparkEntry$.$anonfun$queries$5(SparkEntry.scala:9)" -> "SparkEntry",
      "graft.operators.Dedup$.materializedOnce(Dedup.scala:1)" -> "Dedup",
      "graft.operators.Pipeline$Stage$.run(Pipeline.scala:1)" -> "Pipeline",
      "perfbench.BatchWorkload$.run(PerfBench.scala:1)" -> "action")
      .filter { case (site, want) => Trace.ownerOf(site) != want }
    if (owners.nonEmpty) sys.error(s"call-site owners wrong: $owners")
    val work = argv.headOption.getOrElse("perfbench-selftest")
    val spark = PerfBench.session(2, work, "perfbench-selftest")
    try {
      val t = Trace.install(spark, 2, work)
      t.startMeasuring()
      val sc = spark.sparkContext
      PerfBench.tagged(spark, "a", "action")(sc.parallelize(1 to 10, 2).count())
      val a = t.endOp("a")
      PerfBench.tagged(spark, "b", "action") {
        (1 to 3).foreach(_ => sc.parallelize(1 to 10, 2).count())
      }
      sc.parallelize(1 to 10, 2).count() // untagged: belongs to no op
      val b = t.endOp("b")
      val got = (a("spark.jobs"), b("spark.jobs"), a("spark.tasks"), b("spark.tasks"))
      println(s"selftest jobs a=${got._1} b=${got._2} tasks a=${got._3} b=${got._4}")
      if (got != (1.0, 3.0, 2.0, 6.0)) sys.exit(1)
    } finally spark.stop()
  }
}

/** A minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
