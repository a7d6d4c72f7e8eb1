package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.StructType

import graft.{Caches, SparkEntry, Tables}
import graft.sources.IngestPipeline

final case class Conf(
    workload: String = "dashboard", seed: Long = 1, seconds: Double = 10,
    trace: Boolean = false, work: String = "", cpus: Int = 4,
    mode: String = "run", keyShift: Long = 0, genS: Seq[Double] = Nil)

/** Benchmark JVM entry. `run` measures one workload and writes
  * `<work>/run.json` for the checker; `selftest` checks the harness
  * itself. */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.grouped(2).foldLeft(Conf()) {
      case (c, Array("--workload", v)) => c.copy(workload = v)
      case (c, Array("--seed", v)) => c.copy(seed = v.toLong)
      case (c, Array("--seconds", v)) => c.copy(seconds = v.toDouble)
      case (c, Array("--trace", v)) => c.copy(trace = v == "1")
      case (c, Array("--work", v)) => c.copy(work = v)
      case (c, Array("--cpus", v)) => c.copy(cpus = v.toInt)
      case (c, Array("--mode", v)) => c.copy(mode = v)
      case (c, Array("--key-shift", v)) => c.copy(keyShift = v.toLong)
      case (c, Array("--gen-s", v)) =>
        c.copy(genS = v.split(',').toSeq.map(_.toDouble))
      case (_, other) =>
        throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }
    val ok = conf.mode match {
      case "run" => new Runner(conf).run()
      case "selftest" => SelfTest.run(conf)
    }
    sys.exit(if (ok) 0 else 1)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Milliseconds the JIT compilers have spent so far in this JVM. */
  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime

  def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def session(conf: Conf): SparkSession =
    graft.Sessions.local(cpus = conf.cpus.toString)

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** What one operation did. `layers` holds the traced per-layer numbers;
  * `plan` the executed plan, when the caller asked to keep it. */
final case class OpRec(
    id: String, key: String, startNs: Long, endNs: Long, latencyMs: Double,
    error: Option[String], rowsIn: Long, resultRows: Long,
    layers: Map[String, Double], plan: Option[SparkPlan] = None) {
  def ok: Boolean = error.isEmpty
}

/** Hands out the requests of whole mix cycles to the clients; after the
  * deadline, or when the cycles run out, the cycle in progress is finished
  * and no new one starts. */
final class Feed(cycles: Iterator[Seq[Req]], deadline: Long) {
  private var current: Iterator[Req] = Iterator.empty
  private var issued = 0

  def next(): Option[(Req, Int)] = synchronized {
    if (!current.hasNext && cycles.hasNext && System.nanoTime < deadline)
      current = cycles.next().iterator
    if (!current.hasNext) None
    else { issued += 1; Some((current.next(), issued - 1)) }
  }
}

/** First result seen for a request key; later results must match it. */
final case class Reference(req: Req, digest: String, rows: Array[Row],
    schema: StructType)

final class Runner(conf: Conf) {
  import Main._

  private val w = Workloads.byName(conf.workload)
  private val inputDir = s"${conf.work}/inputs"
  private val ingestDir = s"${conf.work}/ingest"
  private val refs = new ConcurrentHashMap[String, Reference]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private[perfbench] var spark: SparkSession = _
  private var listener: LayerListener = _
  private var tables: Seq[Inputs.Table] = Nil

  /** Starts the session and registers the seed's inputs for the template
    * SQL. */
  private[perfbench] def open(): Unit = {
    spark = session(conf)
    tables = Inputs.read(conf.work)
    if (w.slots(0).exists(_.isInstanceOf[TemplateSlot]))
      Tables.registerAll(spark, inputDir)
  }

  def run(): Boolean = {
    val t0 = System.nanoTime
    open()
    val sessionS = secs(t0)
    // the inputs were generated three times before the JVM started, to
    // report the median set-up
    val genS = conf.genS
    val tw = System.nanoTime
    val warm = warmup()
    val warmS = secs(tw)
    val jitWarm = jitMs()
    val setupS = sessionS + median(genS) + warmS
    val warmRoundP50 = warm.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => median(rs.map(_._2.latencyMs)) }
    val warmFailures = warm.count(!_._2.ok)
    log(f"set-up ${setupS}%.1f s: session $sessionS%.1f s, inputs " +
      genS.map(g => f"$g%.1f").mkString("/") + f" s, warm-up $warmS%.1f s " +
      s"(round p50 ms ${warmRoundP50.map(_.round).mkString(" ")})")

    // End-to-end metrics always come from a window without tracing. A
    // traced run splits its time into three half-length windows of the
    // same request stream: untraced, traced (listener attached, every
    // operation traced), untraced again. Comparing the traced window with
    // both untraced ones cancels the drift of a JVM still warming up.
    val half = if (conf.trace) 0.5 else 1.0
    val (measured, elapsedS) = window("op", traced = false, half)
    val jitWindow = jitMs() - jitWarm
    log(f"window: ${measured.size} ops in $elapsedS%.1f s, JIT $jitWindow ms" +
      f" (set-up $jitWarm ms)")
    val (traced, after) = if (conf.trace) {
      listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val j = jitMs()
      val (ops, tracedS) = window("tr", traced = true, half)
      listener.fence(spark)
      spark.sparkContext.removeSparkListener(listener)
      log(f"traced window: ${ops.size} ops in $tracedS%.1f s, " +
        s"JIT ${jitMs() - j} ms")
      (ops, window("ub", traced = false, half)._1)
    } else (Nil, Nil)
    val all = measured ++ traced ++ after

    val tSweep = System.nanoTime
    Caches.sweepOrphans(spark, blocking = true)
    val sweepMs = secs(tSweep) * 1000
    val rddsLeft = spark.sparkContext.getPersistentRDDs.size
    val checks = writeChecks()
    val stream = streamStats(measured)
    val e2e = endToEnd(measured, elapsedS, setupS)
    val layers =
      if (conf.trace) layerMetrics(traced, measured ++ after, sweepMs)
      else Nil
    if (conf.trace)
      Files.write(Paths.get(s"${conf.work}/spans.json"),
        Spans.json(spans.asScala ++ listener.spans.asScala).getBytes(UTF_8))
    val failures = all.filterNot(_.ok)
    val report = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "seed" -> Json.num(conf.seed),
      "clients" -> Json.num(w.clients.toLong),
      "tail_pct" -> Json.num(w.tailPct),
      "trace" -> Json.bool(conf.trace),
      "env" -> Json.obj(Seq(
        "nproc" -> Json.num(conf.cpus.toLong),
        "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1 << 20)),
        "spark_version" -> Json.str(spark.version),
        "java_version" -> Json.str(sys.props("java.version")),
        "shuffle_partitions" ->
          Json.str(spark.conf.get("spark.sql.shuffle.partitions")))),
      "inputs" -> Json.arr(tables.map(t => Json.obj(Seq(
        "table" -> Json.str(t.name), "rows" -> Json.num(t.rows),
        "bytes" -> Json.num(t.bytes), "files" -> Json.num(t.files.toLong))))),
      "setup" -> Json.obj(Seq(
        "session_s" -> Json.num(sessionS),
        "gen_s" -> Json.arr(genS.map(Json.num)),
        "warmup_s" -> Json.num(warmS),
        "warmup_ops" -> Json.num(warm.size.toLong),
        "warmup_round_p50_ms" -> Json.arr(warmRoundP50.map(Json.num)),
        "warmup_ms_by_kind" -> Json.obj(warm.groupBy(_._2.key).toSeq
          .sortBy(_._1).map { case (k, rs) =>
            k -> Json.arr(rs.sortBy(_._1).map(r => Json.num(r._2.latencyMs)))
          }),
        "warmup_failures" -> Json.num(warmFailures.toLong),
        "jit_ms" -> Json.num(jitWarm))),
      "window_jit_ms" -> Json.num(jitWindow),
      "stream" -> stream,
      "attempted" -> Json.num(all.size.toLong),
      "failed" -> Json.num(failures.size.toLong),
      "failures" -> Json.arr(failures.take(5).map(r =>
        Json.str(s"${r.key}: ${r.error.get}"))),
      "ops_by_key" -> Json.obj(all.groupBy(_.key).toSeq.sortBy(_._1)
        .map { case (k, rs) => k -> Json.obj(Seq(
          "n" -> Json.num(rs.size.toLong),
          "failed" -> Json.num(rs.count(!_.ok).toLong),
          "p50_ms" -> Json.num(median(rs.map(_.latencyMs))))) }),
      "metrics" -> Json.nums(e2e),
      "layers" -> Json.nums(layers),
      "caches_rdds_at_end" -> Json.num(rddsLeft.toLong),
      "checks" -> Json.arr(checks)))
    Files.write(Paths.get(s"${conf.work}/run.json"), report.getBytes(UTF_8))
    spark.stop()
    warmFailures == 0 && rddsLeft == 0
  }

  /** Serves the feed's requests on the workload's clients, each taking
    * the next request when its reply is in. */
  private def serve(feed: Feed)(run: (Req, Int) => OpRec): Seq[OpRec] = {
    val out = new ConcurrentLinkedQueue[OpRec]()
    val clients = (0 until w.clients).map { c =>
      val t = new Thread(() => {
        var next = feed.next()
        while (next.isDefined) {
          out.add(run.tupled(next.get))
          next = feed.next()
        }
      }, s"client-$c")
      t.start(); t
    }
    clients.foreach(_.join())
    out.asScala.toSeq
  }

  /** The measured window: all clients draw from one seeded stream of mix
    * cycles and no cycle starts after the deadline, so every run measures
    * whole cycles: the same mix, whatever the seed. Returns the operations
    * and the window's length in seconds. */
  private def window(prefix: String, traced: Boolean,
      share: Double): (Seq[OpRec], Double) = {
    val start = System.nanoTime
    val feed = new Feed(Workloads.cycles(w, conf.seed, conf.keyShift),
      start + (share * conf.seconds * 1e9).toLong)
    val ops = serve(feed)((req, i) => execute(req, s"$prefix$i", traced))
    (ops, (ops.map(_.endNs).max - start) / 1e9)
  }

  /** `Workloads.warmupRounds` rounds, each of every kind of request once in
    * a seeded order, on the workload's clients; not measured, but counted
    * in set-up time. Returns each operation with its round. */
  private def warmup(): Seq[(Int, OpRec)] = {
    val kinds = Workloads.cycles(w, conf.seed, conf.keyShift, salt = 1).next()
      .groupBy(_.key.takeWhile(_ != '(')).values.map(_.head).toSeq
      .sortBy(_.key)
    val rounds = Workloads.shuffledRounds(kinds, Workloads.warmupRounds,
      conf.seed)
    serve(new Feed(rounds.iterator, Long.MaxValue))((req, i) =>
      execute(req, s"w$i", traced = false))
      .map(r => (r.id.drop(1).toInt / kinds.size, r))
  }

  private[perfbench] def build(req: Req): DataFrame = req.kind match {
    case Req.Query => SparkEntry.queries(req.key)(spark, inputDir)
    case _ => spark.sql(req.sql)
  }

  private def rowsIn(req: Req): Long =
    req.tables.flatMap(t => tables.find(_.name == t)).map(_.rows).sum

  /** Runs one request on the calling client thread: build the DataFrame,
    * plan it, fetch the whole result (never `count()`, which lets the
    * optimizer drop the aggregates users pay for), then release the caches
    * the query persisted. `keepPlan` returns the plan that was executed. */
  private[perfbench] def execute(req: Req, id: String, traced: Boolean,
      keepPlan: Boolean = false): OpRec = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Props.Op, id)
    val wall0 = System.currentTimeMillis
    val t0 = System.nanoTime
    val layers = Map.newBuilder[String, Double]
    def span(name: String, a: Long, b: Long): Unit =
      if (traced) spans.add(Span(s"$id/$name", id, name,
        wall0 + ms(t0, a), ms(a, b)))
    def phase(p: String): Unit = sc.setLocalProperty(Props.Phase, p)
    try {
      val (digest, nRows, result, plan) = req.kind match {
        case Req.Ingest =>
          phase("ingest")
          val hops = IngestPipeline.run(spark, inputDir, ingestDir)
          val t1 = System.nanoTime
          span("sources.ingest", t0, t1)
          layers += "sources.ingest_ms" -> ms(t0, t1)
          if (traced) layers += "sources.files_written" -> filesUnder(ingestDir)
          (hops.toString, hops.partitioned, None, None)
        case _ =>
          phase("build")
          val df = build(req)
          val t1 = System.nanoTime
          phase("plan")
          df.queryExecution.executedPlan
          val t2 = System.nanoTime
          phase("exec")
          val rows = df.collect()
          val t3 = System.nanoTime
          span("queries.build", t0, t1)
          span("plans.plan", t1, t2)
          span("exec", t2, t3)
          layers ++= Seq("queries.build_ms" -> ms(t0, t1),
            "plans.plan_ms" -> ms(t1, t2), "exec.action_ms" -> ms(t2, t3))
          val executed = PlanWalk.plan(df)
          if (traced) {
            val tracker = df.queryExecution.tracker
            val phases = tracker.phases
            def phaseMs(p: String) =
              phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
            layers ++= Seq(
              "plans.analysis_ms" -> phaseMs("analysis"),
              "plans.optimization_ms" -> phaseMs("optimization"),
              "plans.planning_ms" -> phaseMs("planning"),
              "plans.graft_rules_ms" -> tracker.rules
                .collect { case (r, s) if r.startsWith("graft.plans.") =>
                  s.totalTimeNs / 1e6 }.sum,
              "shuffle.exchanges" ->
                PlanWalk.shuffleExchanges(executed).toDouble,
              "exec.broadcasts" -> PlanWalk.broadcasts(executed).toDouble,
              "scan.files_read" -> PlanWalk.filesRead(executed).toDouble,
              "caches.peak_bytes" -> sc.getRDDStorageInfo
                .map(i => (i.memSize + i.diskSize).toDouble).sum)
          }
          (digestOf(rows), rows.length.toLong, Some((rows, df.schema)),
            if (keepPlan) Some(executed) else None)
      }
      val t4 = System.nanoTime
      phase("release")
      Caches.release()
      val t5 = System.nanoTime
      span("caches.release", t4, t5)
      layers += "caches.release_ms" -> ms(t4, t5)
      if (traced) layers += "caches.rdds" -> sc.getPersistentRDDs.size.toDouble
      val ref = refs.computeIfAbsent(req.key, _ => result match {
        case Some((rows, schema)) => Reference(req, digest, rows, schema)
        case None => Reference(req, digest, Array.empty, new StructType())
      })
      val error =
        if (ref.digest == digest) None
        else Some(s"result differs from the first run of ${req.key}")
      if (traced) spans.add(Span(id, "", s"op ${req.key}", wall0, ms(t0, t4)))
      OpRec(id, req.key, t0, t4, ms(t0, t4), error, rowsIn(req), nRows,
        layers.result(), plan)
    } catch {
      case e: Throwable =>
        Caches.release()
        val t = System.nanoTime
        OpRec(id, req.key, t0, t, ms(t0, t),
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)),
          rowsIn(req), 0, Map.empty)
    } finally {
      sc.setLocalProperty(Props.Op, null)
      sc.setLocalProperty(Props.Phase, null)
    }
  }

  private def filesUnder(dir: String): Double =
    Files.walk(Paths.get(dir)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet") || p.toString.endsWith(".gz"))
      .toDouble

  private def digestOf(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Writes each distinct result once, outside the timed region, next to
    * the text of its DuckDB twin. */
  private def writeChecks(): Seq[String] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = refs.asScala.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((key, ref), i) => Future(ref.req.kind match {
        case Req.Ingest =>
          Json.obj(Seq("key" -> Json.str(key), "kind" -> Json.str("ingest"),
            "table" -> Json.str(s"$ingestDir/events_by_day")))
        case kind =>
          val dir = s"${conf.work}/results/r$i"
          spark.createDataFrame(ref.rows.toSeq.asJava, ref.schema)
            .coalesce(1).write.mode("overwrite").parquet(dir)
          val oracle =
            if (kind == Req.Query) SparkEntry.oracleSql(key) else ref.req.sql
          Json.obj(Seq("key" -> Json.str(key), "kind" -> Json.str("sql"),
            "oracle" -> Json.str(oracle), "result" -> Json.str(dir)))
      })
    }
    writes.map(Await.result(_, Duration.Inf))
  }

  /** How much of the measured stream repeats an earlier request. */
  private def streamStats(ops: Seq[OpRec]): String = {
    val ordered = ops.sortBy(_.startNs).map(_.key)
    val repeats = ordered.zipWithIndex.count { case (k, i) =>
      ordered.indexOf(k) < i }
    val streamDigest = digestOf(Workloads.cycles(w, conf.seed, conf.keyShift)
      .flatten.take(200).map(r => Row(r.key)).toArray)
    Json.obj(Seq(
      "digest" -> Json.str(streamDigest),
      "distinct_keys" -> Json.num(ordered.distinct.size.toLong),
      "repeat_share" -> Json.num(
        if (ordered.isEmpty) 0.0 else repeats.toDouble / ordered.size)))
  }

  private def endToEnd(ops: Seq[OpRec], elapsedS: Double,
      setupS: Double): Seq[(String, Double)] = {
    val lat = ops.map(_.latencyMs)
    val stored = w.slots(conf.keyShift) match {
      case Seq(IngestSlot) => storedBytes(s"$ingestDir/events_by_day") /
        tables.find(_.name == "events").map(_.rows).get
      case _ => tables.map(_.bytes).sum.toDouble / tables.map(_.rows).sum
    }
    Seq(
      "setup_s" -> setupS,
      "qps" -> ops.size / elapsedS,
      "latency_p50_ms" -> median(lat),
      "latency_tail_ms" -> percentile(lat, w.tailPct),
      "rows_per_s" -> ops.map(_.rowsIn).sum / elapsedS,
      "stored_bytes_per_row" -> stored)
  }

  private def storedBytes(dir: String): Double =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => new File(p.toString).length.toDouble).sum

  /** Per-layer numbers of the traced window: per-operation means over its
    * operations, with the listener's counters joined in by operation id.
    * Tracing is judged against the untraced windows around it:
    * `trace.accounted_pct` is the sum of the layers' median times over the
    * untraced `latency_p50_ms`, and `trace.overhead_pct` compares traced
    * and untraced median latency request kind by request kind. */
  private def layerMetrics(tracedOps: Seq[OpRec], untracedOps: Seq[OpRec],
      sweepMs: Double): Seq[(String, Double)] = {
    val traced = tracedOps.filter(_.ok)
    val untraced = untracedOps.filter(_.ok)
    val n = math.max(traced.size, 1).toDouble
    def mean(k: String) = traced.map(_.layers.getOrElse(k, 0.0)).sum / n
    def med(k: String) = median(traced.map(_.layers.getOrElse(k, 0.0)))
    def cnt(k: String) =
      traced.map(r => Option(listener.ops.get(r.id)).map(_.get(k))
        .getOrElse(0.0)).sum
    def cmean(k: String) = cnt(k) / n
    val build = mean("queries.build_ms")
    val analysis = mean("plans.analysis_ms")
    val plan = mean("plans.plan_ms")
    val action = mean("exec.action_ms")
    val ingest = mean("sources.ingest_ms")
    val p50Untraced = median(untraced.map(_.latencyMs))
    val accounted = Seq("queries.build_ms", "plans.plan_ms",
      "exec.action_ms", "sources.ingest_ms").map(med).sum
    def p50ByKey(ops: Seq[OpRec]) =
      ops.groupBy(_.key).map { case (k, rs) => k -> median(rs.map(_.latencyMs)) }
    val (t, u) = (p50ByKey(traced), p50ByKey(untraced))
    val both = t.keySet.intersect(u.keySet).toSeq
    Seq(
      "queries.build_ms" -> build,
      "queries.build_jobs" -> cmean("build_jobs"),
      "plans.plan_ms" -> plan,
      "plans.analysis_ms" -> analysis,
      "plans.optimization_ms" -> mean("plans.optimization_ms"),
      "plans.planning_ms" -> mean("plans.planning_ms"),
      "plans.graft_rules_ms" -> mean("plans.graft_rules_ms"),
      "exec.action_ms" -> action,
      "exec.jobs" -> cmean("jobs"),
      "exec.stages" -> cmean("stages"),
      "exec.tasks" -> cmean("tasks"),
      "exec.task_run_ms" -> cmean("task_run_ms"),
      "exec.task_cpu_ms" -> cmean("task_cpu_ms"),
      "exec.sched_wait_ms" -> cmean("sched_wait_ms"),
      "exec.gc_ms" -> cmean("gc_ms"),
      "exec.core_util" -> (if (action + ingest > 0)
        cmean("action_task_run_ms") / ((action + ingest) * conf.cpus)
        else 0.0),
      "exec.task_failures" -> cnt("task_failures"),
      "exec.broadcasts" -> mean("exec.broadcasts"),
      "scan.bytes_read" -> cmean("bytes_read"),
      "scan.rows_read" -> cmean("rows_read"),
      "scan.files_read" -> mean("scan.files_read"),
      "scan.rows_per_result_row" ->
        cnt("rows_read") / math.max(traced.map(_.resultRows).sum, 1L),
      "shuffle.exchanges" -> mean("shuffle.exchanges"),
      "shuffle.bytes_written" -> cmean("shuffle_written"),
      "shuffle.bytes_read" -> cmean("shuffle_read"),
      "shuffle.fetch_wait_ms" -> cmean("fetch_wait_ms"),
      "spill.memory_bytes" -> cmean("spill_memory"),
      "spill.disk_bytes" -> cmean("spill_disk"),
      "caches.peak_bytes" ->
        traced.map(_.layers.getOrElse("caches.peak_bytes", 0.0))
          .foldLeft(0.0)(math.max),
      "caches.rdds" -> mean("caches.rdds"),
      "caches.release_ms" -> mean("caches.release_ms"),
      "caches.sweep_ms" -> sweepMs,
      "sources.ingest_ms" -> ingest,
      "sources.bytes_written" -> cmean("bytes_written"),
      "sources.records_written" -> cmean("records_written"),
      "sources.files_written" -> mean("sources.files_written"),
      "self.queries_ms" -> math.max(0.0, build - analysis),
      "self.plans_ms" -> (plan + math.min(build, analysis)),
      "self.exec_ms" -> action,
      "self.caches_ms" -> mean("caches.release_ms"),
      "self.sources_ms" -> ingest,
      "trace.ops" -> traced.size.toDouble,
      "trace.untraced_p50_ms" -> p50Untraced,
      "trace.traced_p50_ms" -> median(traced.map(_.latencyMs)),
      "trace.accounted_pct" ->
        (if (p50Untraced > 0) 100 * accounted / p50Untraced else 0.0),
      "trace.overhead_pct" -> (if (both.nonEmpty)
        100 * (both.map(t).sum / both.map(u).sum - 1) else 0.0),
      "peak_rss_mb" -> peakRssMb())
  }
}
