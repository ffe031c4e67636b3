package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.parser.ParserInterface

/** Runs one workload in a closed loop with one client and writes the
  * result as JSON (see perfbench/README.md for the metric definitions).
  *
  * Untraced run: no listener, no spans; end-to-end metrics only.
  * Traced run (`--trace 1`): the untraced loop first, then one whole
  * period of the op schedule with spans and Spark listener counters
  * recorded; the per-layer metrics come from that period, and the
  * tracing overhead compares it with the untraced loop.
  */
object Main {

  val SetupReps = 3
  /** The seed the recorded outputs in `expected/` belong to. */
  val ExpectedSeed = 1L

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, workDir: String, out: String,
                        spansOut: String, cores: Int, expectedDir: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work-dir"), need("out"), need("spans-out"),
      need("cores").toInt, need("expected-dir"))
  }

  /** p50 and (given ten samples beyond it) p90 of the completed ops,
    * plus the sample count. Failed ops have no latency.
    */
  def latencies(ops: Seq[OpRecord], prefix: String): Seq[(String, Double)] = {
    val ok = ops.filter(_.ok).map(_.wallNs / 1e9)
    (if (ok.isEmpty) Nil else Seq(s"${prefix}_p50_s" -> Stats.median(ok))) ++
      Stats.tailPercentile(ok, 0.9).map(s"${prefix}_p90_s" -> _) :+
      (s"${prefix}_samples" -> ok.size.toDouble)
  }

  final case class Phase(ops: Seq[OpRecord], elapsedNs: Long,
                         windowsMs: Seq[(Long, Long)])

  /** Closed loop over the ops `indices`: the next op starts as soon as
    * the last one ends, while `more(elapsed ns, ops done)` holds.
    */
  def loop(wl: Workload, tracer: Tracer, indices: Iterator[Int])(
           more: (Long, Int) => Boolean): Phase = {
    val recs = ArrayBuffer.empty[OpRecord]
    val windows = ArrayBuffer.empty[(Long, Long)]
    val start = System.nanoTime()
    while (indices.hasNext && more(System.nanoTime() - start, recs.size)) {
      val i = indices.next()
      val op = wl.op(i)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err =
        try { tracer.op(i, s"op.${op.name}")(op.run()); None }
        catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = System.nanoTime() - t0
      windows += ((ms0, System.currentTimeMillis()))
      val wrong =
        if (err.isDefined) err
        else try tracer.paused(op.check()) catch { case NonFatal(e) => Some(s"check failed: $e") }
      recs += OpRecord(i, op.name, op.kind, wall, wrong.isEmpty, wrong)
    }
    Phase(recs.toSeq, System.nanoTime() - start, windows.toSeq)
  }

  /** Whole schedule periods, until `seconds` have passed. */
  private def periods(wl: Workload, seconds: Double): (Long, Int) => Boolean =
    (ns, n) => ns < seconds * 1e9 || n % wl.period != 0

  /** Times each statement parse as a `sql.parse` span: the parse that
    * `spark.sql` does anyway, seen from outside the product's parser.
    */
  final class TimedParser(tracer: Tracer, delegate: ParserInterface)
      extends ParserInterface {
    override def parsePlan(sqlText: String) =
      tracer.span("sql.parse")(delegate.parsePlan(sqlText))
    override def parseQuery(sqlText: String) = delegate.parseQuery(sqlText)
    override def parseExpression(sqlText: String) = delegate.parseExpression(sqlText)
    override def parseTableIdentifier(sqlText: String) =
      delegate.parseTableIdentifier(sqlText)
    override def parseFunctionIdentifier(sqlText: String) =
      delegate.parseFunctionIdentifier(sqlText)
    override def parseMultipartIdentifier(sqlText: String) =
      delegate.parseMultipartIdentifier(sqlText)
    override def parseRoutineParam(sqlText: String) = delegate.parseRoutineParam(sqlText)
    override def parseTableSchema(sqlText: String) = delegate.parseTableSchema(sqlText)
    override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
  }

  def session(a: Args, tracer: Tracer): SparkSession = {
    val s = graft.SessionDefaults.configure(SparkSession.builder()
        .master(s"local[${a.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a.workDir}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.workDir}/spark-warehouse")
        .config("spark.hadoop.hadoop.tmp.dir", s"${a.workDir}/hadoop")
        .withExtensions(new graft.GraftExtensions)
        // injected after graft's parser, so it wraps it
        .withExtensions(_.injectParser((_, d) => new TimedParser(tracer, d))))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"${a.workDir}/checkpoints")
    s
  }

  /** The recorded outputs of the default seed: `name<TAB>value...`
    * lines of `expected/<workload>.tsv`; none for other seeds.
    */
  private def readExpected(a: Args, workload: String): Option[Map[String, Seq[Long]]] = {
    val f = new File(a.expectedDir, s"$workload.tsv")
    if (a.seed != ExpectedSeed || !f.exists) None
    else Some(scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).map { l =>
      val fields = l.split('\t')
      fields.head -> fields.tail.toSeq.map(_.toLong)
    }.toMap)
  }

  private def metric(name: String, v: Double, unit: String): (String, String) =
    name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tracer = new Tracer()
    val spark = session(a, tracer)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(spark, tracer, a.seed)
    val expected = readExpected(a, a.workload)
    val wl: Workload = a.workload match {
      case "llm_pipeline" => new LlmPipeline(ctx, expected)
      case "index_rw" => new IndexRw(ctx, expected)
      case w => sys.error(s"unknown workload $w")
    }

    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(s"${a.workDir}/setup$rep")
      val s = (System.nanoTime() - t0) / 1e9
      if (rep > 0) Disk.remove(new File(s"${a.workDir}/setup${rep - 1}"))
      s
    }
    val w0 = System.nanoTime()
    // the first op of each kind in the schedule, so every plan is compiled
    // and every code path has run once before timing
    val firsts = (0 until wl.period).groupBy(wl.opName).values.map(_.min).toSeq.sorted
    val warm = loop(wl, tracer, firsts.iterator)((_, _) => true)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val (measured, metrics, extra) =
      if (!a.trace) {
        val p = loop(wl, tracer, Iterator.from(wl.period))(periods(wl, a.seconds))
        val ok = p.ops.count(_.ok)
        val lat = latencies(p.ops, "latency").toMap
        val m = Seq(
          metric("setup_s", Stats.median(setupS), "s"),
          metric("ops_per_s", ok / (p.elapsedNs / 1e9), "1/s"),
          metric("latency_p50_s", lat.getOrElse("latency_p50_s", Double.NaN), "s"))
        (p.ops, m, (lat - "latency_p50_s").toSeq :+ ("elapsed_s" -> p.elapsedNs / 1e9))
      } else {
        // the untraced run's loop, then one whole schedule period traced,
        // so every kind of op is seen
        val pa = loop(wl, tracer, Iterator.from(wl.period))(periods(wl, a.seconds))
        val meter = new Meter(spark)
        meter.register()
        tracer.enabled = true
        tracer.onEnter = id => spark.sparkContext.setJobDescription(Meter.tag(id))
        val pb = loop(wl, tracer, Iterator.from(wl.period + pa.ops.size))(
          (_, n) => n < wl.period)
        tracer.enabled = false
        tracer.onEnter = _ => ()
        spark.sparkContext.setJobDescription(null)
        meter.settle()
        meter.unregister()
        val layers = new Layers(tracer.spans, meter, pb.ops.size)
        val (m, x) = LayerMetrics(wl, layers, pa, pb)
        Files.writeString(Paths.get(a.spansOut), {
          val self = Span.selfTimes(tracer.spans)
          tracer.spans.map(s => Span.toJson(s, self(s.id))).mkString("[\n", ",\n", "\n]\n")
        })
        (pa.ops ++ pb.ops, m.map { case (k, v, u) => metric(k, v, u) }, x)
      }

    val f0 = System.nanoTime()
    val failures = (warm.ops ++ measured).filterNot(_.ok)
      .map(o => s"op ${o.index} ${o.name}: ${o.error.getOrElse("")}") ++ wl.finish()
    val finishS = (System.nanoTime() - f0) / 1e9
    val detail = Seq(
      "session_s" -> Json.num(sessionS),
      "setup_reps_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmupS),
      "finish_s" -> Json.num(finishS),
      "ops" -> measured.size.toString,
      "failed_ratio" -> Json.num(measured.count(!_.ok).toDouble / math.max(1, measured.size)),
      "op_counts" -> Json.obj(measured.groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.size.toString }),
      "op_p50_s" -> Json.obj(measured.filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(Stats.median(v.map(_.wallNs / 1e9))) }),
      "failures" -> failures.take(20).map(Json.str).mkString("[", ",", "]")) ++
      (extra ++ (if (a.trace) Nil else wl.detail(measured)))
        .map { case (k, v) => k -> Json.num(v) }
    val result = Json.obj(Seq(
      "correct" -> failures.isEmpty.toString,
      "attempted" -> measured.size.toString,
      "failed" -> failures.size.toString,
      "metrics" -> Json.obj(metrics),
      "detail" -> Json.obj(detail)))
    Files.writeString(Paths.get(a.out), result + "\n")
    spark.stop()
  }
}

/** The per-layer metrics of a traced run. */
object LayerMetrics {

  def apply(wl: Workload, l: Layers, untraced: Main.Phase,
            traced: Main.Phase): (Seq[(String, Double, String)], Seq[(String, Double)]) = {
    val n = math.max(1, traced.ops.size).toDouble
    val accs = l.spans.map(s => l.meter.acc(s.id))
    def total(f: Meter#Acc => Long): Double = accs.map(f).sum / n
    // planning phases, attributed to the op whose wall-clock window
    // contains the phase start
    val windows = traced.windowsMs
    val phases = l.meter.phases.asScala.toSeq
      .filter { case (t, _) => windows.exists { case (a, b) => t >= a && t <= b } }
    def phase(k: String): Double = phases.map(_._2.getOrElse(k, 0L)).sum / 1e3 / n

    // tracing overhead: the traced wall of the op kinds the untraced
    // phase also ran, over what those kinds took untraced
    val base = untraced.ops.filter(_.ok).groupBy(_.name)
      .map { case (k, v) => k -> v.map(_.wallNs.toDouble).sum / v.size }
    val both = traced.ops.filter(o => o.ok && base.contains(o.name))
    val overhead =
      if (both.isEmpty) Double.NaN
      else both.map(_.wallNs.toDouble).sum / both.map(o => base(o.name)).sum

    // self-time arithmetic holds by construction; report the residual
    val self = Span.selfTimes(l.spans)
    val residual = l.spans.groupBy(_.op).map { case (_, ss) =>
      val root = ss.filter(_.parent < 0)
      math.abs(ss.map(s => self(s.id)).sum - root.map(_.dur).sum)
    }.maxOption.getOrElse(0L)

    val generic = Seq(
      ("queries.build_s", l.perOpS("queries.build"), "s"),
      ("queries.build_jobs", l.counter("queries.build")(_.jobs.get) / n, "count"),
      ("plan.analysis_s", phase("analysis"), "s"),
      ("plan.optimize_s", phase("optimization"), "s"),
      ("plan.planning_s", phase("planning"), "s"),
      ("plan.sql_executions", total(_.sqlExecutions.get), "count"),
      ("exec.s", l.perOpS("exec.action"), "s"),
      ("exec.jobs", total(_.jobs.get), "count"),
      ("exec.stages", total(_.stages.get), "count"),
      ("exec.tasks", total(_.tasks.get), "count"),
      ("exec.task_s", total(_.taskNs.get) / 1e9, "s"),
      ("exec.cpu_s", total(_.cpuNs.get) / 1e9, "s"),
      ("exec.gc_s", total(_.gcNs.get) / 1e9, "s"),
      ("exec.stage_overhead_s", total(_.stageOverheadNs.get) / 1e9, "s"),
      ("exec.shuffle_read_bytes", total(_.shuffleRead.get), "bytes"),
      ("exec.shuffle_write_bytes", total(_.shuffleWrite.get), "bytes"),
      ("exec.spill_bytes", total(_.spill.get), "bytes"),
      ("trace.overhead", overhead, "ratio"))
    val specific = wl.layers(l).toMap
    val all = generic ++ PerLayer.specific.map { case (k, u) =>
      (k, specific.getOrElse(k, 0.0), u) }
    (all, Seq("self_time_residual_ns" -> residual.toDouble,
      "spans" -> l.spans.size.toDouble, "traced_ops" -> traced.ops.size.toDouble))
  }
}

/** Per-layer metric names that only some workloads exercise; the others
  * report them as 0.
  */
object PerLayer {
  val specific: Seq[(String, String)] = Seq(
    "pipeline.quality_s" -> "s", "pipeline.exact_dedup_s" -> "s",
    "pipeline.near_dup_s" -> "s", "pipeline.decontam_s" -> "s",
    "pipeline.bpe_s" -> "s", "pipeline.pack_s" -> "s",
    "bpe.jobs_per_merge" -> "count", "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.verified_per_candidate" -> "ratio",
    "dedup.cc_jobs" -> "count",
    "bm25.search_s" -> "s", "pq.search_s" -> "s",
    "hybrid.search_s" -> "s", "search.cold_after_write_s" -> "s",
    "search.warm_s" -> "s", "bm25.sync_s" -> "s",
    "pq.sync_s" -> "s", "ann.recall_at_k" -> "ratio",
    "manifest.append_s" -> "s", "manifest.upsert_s" -> "s",
    "manifest.delete_s" -> "s", "manifest.compact_s" -> "s",
    "manifest.compactions" -> "count",
    "manifest.bytes_written_per_user_byte" -> "ratio",
    "manifest.dirs_per_bucket" -> "count",
    "scan.lookup_s" -> "s", "scan.input_bytes" -> "bytes",
    "scan.rows_read_per_row_returned" -> "ratio", "sql.parse_s" -> "s")
}
