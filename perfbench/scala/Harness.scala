package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Corpus, Engine, Extras, Multimodal, Pipeline, Queries, Sources, SparkEntry, Tpch}

/** Runs one benchmark workload in one Spark session and writes what it
  * measured as JSON; `perfbench/run.py` turns that into metrics.
  *
  * Modes:
  *  - `list OUT`: entry names, modules and oracle SQL of the contract
  *    entries (no Spark session).
  *  - `run key=value...`: set up, one cold pass, then steady passes
  *    until `seconds` have passed and at least [[MinSteadyPasses]] ran
  *    (whole passes only).
  *
  * Every operation runs the per-entry protocol of `SparkEntry.queries`:
  * `Engine.reclaim`, `Engine.prepare`, then its body (an entry's `q` plus
  * its sink, or one `Engine.runGreatest` call). Each phase is timed from
  * here. With `trace=1` a listener records Spark jobs, stages and planning
  * phases, attributed to the phase span that was open when the job was
  * submitted through the `perfbench.span` local property. */
object Harness {

  /** Set-up rounds (prepare + warm-up); `setup_s` takes their median. */
  val SetupReps = 3
  /** Steady passes at least, so every operation's steady time is the
    * median of two samples or more. */
  val MinSteadyPasses = 2

  val modules: Seq[(String, Seq[Queries.Entry])] = Seq(
    "Queries" -> Queries.all, "Pipeline" -> Pipeline.all,
    "Multimodal" -> Multimodal.all, "Sources" -> Sources.all,
    "Extras" -> Extras.all, "Tpch" -> Tpch.all, "Corpus" -> Corpus.all)

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    q(k) + ":" + js(v)
  }.mkString("{", ",", "}")

  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case raw: Raw => raw.s
    case other => q(other.toString)
  }
  final case class Raw(s: String)

  def main(args: Array[String]): Unit = args.head match {
    case "list" =>
      val oracle = SparkEntry.oracleSql
      val rows = for ((m, es) <- modules; en <- es)
        yield Raw(obj("name" -> en.name, "module" -> m, "oracle" -> oracle.get(en.name)))
      Files.writeString(Paths.get(args(1)), js(rows))
    case "run" =>
      val kv = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
      new Run(kv).run()
  }

  // ---- clock: epoch nanoseconds with nanoTime resolution -----------------
  private val epochBaseNs = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now(): Long = epochBaseNs + (System.nanoTime() - nanoBase)

  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long = 0L)

  /** Spark-side events, keyed by the span that was open at submission. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    val jobs = mutable.ArrayBuffer.empty[String]
    val stages = mutable.ArrayBuffer.empty[String]
    val plans = mutable.ArrayBuffer.empty[String]
    private val jobSpan = mutable.Map.empty[Int, (String, Long)]
    private val stageSpan = mutable.Map.empty[Int, String]
    private def spanOf(p: Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("perfbench.span"))).getOrElse("-1")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobSpan(e.jobId) = (spanOf(e.properties), e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (span, t0) =>
        jobs += obj("job" -> e.jobId, "span" -> span.toInt, "start_ms" -> t0, "end_ms" -> e.time)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val span = stageSpan.remove(i.stageId).getOrElse("-1")
      if (m != null) stages += obj(
        "stage" -> i.stageId, "span" -> span.toInt, "tasks" -> i.numTasks,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> (m.diskBytesSpilled + m.memoryBytesSpilled),
        "input" -> m.inputMetrics.bytesRead,
        "output" -> m.outputMetrics.bytesWritten)
    }
    private def planned(func: String, qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases.map { case (k, v) => k -> List(v.startTimeMs, v.endTimeMs) }
      plans += obj("qe" -> qe.id, "func" -> func, "phases" -> ph)
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = planned(func, qe)
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = planned(func, qe)
  }

  final class Run(kv: Map[String, String]) {
    private val workload = kv("workload")
    private val corpus = kv("corpus")
    private val out = kv("out")
    private val seed = kv("seed").toLong
    private val seconds = kv("seconds").toDouble
    private val trace = kv("trace") == "1"
    private val cpus = kv("cpus")
    private val sink = kv("sink") // noop | parquet | binding
    private val opNames: Vector[String] =
      Files.readAllLines(Paths.get(kv("ops"))).asScala.map(_.trim).filter(_.nonEmpty).toVector

    private val spans = mutable.ArrayBuffer.empty[Span]
    private val tracer = new Tracer

    private def open(parent: Int, name: String): Span = {
      val s = Span(spans.size, parent, name, now())
      spans += s
      s
    }

    /** Time `body` as a child span of `parent`; with tracing on, jobs it
      * submits carry the span id as a local property. */
    private def timed[T](spark: SparkSession, parent: Int, name: String)(body: => T): (T, Span) = {
      val sp = open(parent, name)
      val tag = trace && spark != null
      if (tag) spark.sparkContext.setLocalProperty("perfbench.span", sp.id.toString)
      try (body, sp) finally {
        sp.end = now()
        if (tag) spark.sparkContext.setLocalProperty("perfbench.span", null)
      }
    }

    private def secs(s: Span): Double = (s.end - s.start) / 1e9

    private def gcNs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L
    private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

    /** One call per line, columns split by ';', values by ','; tokens are
      * `N` (NULL), `L<long>` and `D<double>` (NaN spelled `DNaN`). */
    private lazy val greatestInputs: Vector[Seq[Seq[Any]]] =
      Files.readAllLines(Paths.get(kv("greatest"))).asScala.filter(_.nonEmpty).map { line =>
        line.split(';').toSeq.map(_.split(',').toSeq.map { t =>
          if (t == "N") null
          else if (t.head == 'L') java.lang.Long.valueOf(t.tail.toLong)
          else java.lang.Double.valueOf(t.tail.toDouble)
        })
      }.toVector

    private def fmt(v: Any): String = v match {
      case null => "N"
      case l: java.lang.Long => "L" + l
      case d: java.lang.Double => "D" + java.lang.Double.toString(d)
      case other => "?" + other
    }

    def run(): Unit = {
      val mainStart = now()
      val jvmStartNs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
      new File(out).mkdirs()
      val root = open(-1, s"workload:$workload")

      // set-up: the session the way graft.Bench builds it, then prepare +
      // warm-up SetupReps times, on it and on new sessions of its context
      val (base, sessionSpan) = timed(null, root.id, "setup.session") {
        SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.ui.enabled", "false")
          .config("spark.sql.warehouse.dir", Engine.warehouseDir)
          .config("spark.cleaner.periodicGC.interval", "30min")
          .getOrCreate()
      }
      base.sparkContext.setLogLevel("ERROR")
      if (trace) base.sparkContext.addSparkListener(tracer)
      val setupReps = (0 until SetupReps).map { r =>
        val s = if (r == 0) base else base.newSession()
        val (_, p) = timed(s, root.id, "setup.prepare") { Engine.prepare(s, corpus) }
        val (_, w) = timed(s, root.id, "setup.warmup") {
          Engine.tableNames.foreach(t => s.table(t).count())
        }
        Map("prepare_s" -> secs(p), "warmup_s" -> secs(w))
      }
      // operations run on the first session: it is also the default session
      // that Engine.runGreatest resolves through Engine.session()
      val spark = base
      if (trace) spark.listenerManager.register(tracer)

      val entries = SparkEntry.allEntries.map(en => en.name -> en).toMap
      val moduleOf = (for ((m, es) <- modules; en <- es) yield en.name -> m).toMap
      val binding = sink == "binding"

      /** One operation; returns its per-phase record. */
      def operation(passSpan: Int, op: String, checkDir: Option[String]): String = {
        val s = spark
        val (_, opSpan) = timed(s, passSpan, s"op:$op") { () }
        var rec = Seq.empty[(String, Any)]
        var error: Option[String] = None
        try {
          val (_, rc) = timed(s, opSpan.id, "reclaim") { Engine.reclaim(s) }
          val (_, pr) = timed(s, opSpan.id, "prepare") { Engine.prepare(s, corpus) }
          if (binding) {
            val cols = greatestInputs(op.toInt)
            val (res, call) = timed(s, opSpan.id, "call") { Engine.runGreatest(cols) }
            checkDir.foreach { d =>
              timed(s, opSpan.id, "check") {
                Files.writeString(Paths.get(d, s"greatest_$op.txt"), res.map(fmt).mkString(","))
              }
            }
            rec = Seq("reclaim_s" -> secs(rc), "prepare_s" -> secs(pr), "build_s" -> 0.0,
              "sink_s" -> secs(call), "sink_span" -> call.id, "rows" -> res.size)
          } else {
            val en = entries(op)
            val (df, b) = timed(s, opSpan.id, "build") { en.q(s, corpus) }
            val (_, w) = timed(s, opSpan.id, "sink") { write(df, op, checkDir) }
            // the final DataFrame was parsed and analyzed eagerly inside `q`
            val front = if (trace) df.queryExecution.tracker.phases.collect {
              case (k, v) if k == "parsing" || k == "analysis" => k -> List(v.startTimeMs, v.endTimeMs)
            } else Map.empty[String, List[Long]]
            rec = Seq("reclaim_s" -> secs(rc), "prepare_s" -> secs(pr), "build_s" -> secs(b),
              "sink_s" -> secs(w), "sink_span" -> w.id, "df_phases" -> front)
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
            System.err.println(s"[perfbench] $op FAILED: ${error.get}")
        }
        opSpan.end = now()
        obj((Seq("op" -> op, "module" -> moduleOf.getOrElse(op, "GreatestRunner"),
          "span" -> opSpan.id, "wall_s" -> secs(opSpan), "error" -> error) ++ rec): _*)
      }

      def write(df: DataFrame, op: String, checkDir: Option[String]): Unit = checkDir match {
        case Some(d) => df.write.mode("overwrite").parquet(s"$d/$op")
        case None if sink == "parquet" => df.write.mode("overwrite").parquet(s"$out/sink/$op")
        case None => df.write.format("noop").mode("overwrite").save()
      }

      val passes = mutable.ArrayBuffer.empty[String]
      def pass(i: Int, kind: String, checkDir: Option[String]): Unit = {
        val order = new scala.util.Random(seed * 1000003L + i).shuffle(opNames)
        val (g0, c0) = (gcNs(), cpuNs())
        val (cg0, cc0) = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
        val ps = open(root.id, s"pass:$i")
        val ops = order.map(op => Raw(operation(ps.id, op, checkDir)))
        ps.end = now()
        passes += obj("pass" -> i, "kind" -> kind, "span" -> ps.id, "wall_s" -> secs(ps),
          "gc_s" -> (gcNs() - g0) / 1e9, "cpu_s" -> (cpuNs() - c0) / 1e9,
          "codegen_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
          "codegen_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0),
          "ops" -> ops)
      }

      if (binding) require(greatestInputs.size == opNames.size, "one input per binding call")
      pass(0, "cold", Some(s"$out/check"))
      val steadyStart = now()
      var i = 1
      while (i <= MinSteadyPasses || (now() - steadyStart) / 1e9 < seconds) { pass(i, "steady", None); i += 1 }
      root.end = now()

      val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024.0).getOrElse(0.0)
      spark.stop() // drains the listener bus: every event below is final
      val doc = obj(
        "workload" -> workload,
        "jvm_to_main_s" -> (mainStart - jvmStartNs) / 1e9,
        "session_s" -> secs(sessionSpan),
        "setup_reps" -> setupReps,
        "peak_rss_mb" -> rss,
        "passes" -> passes.map(Raw),
        "spans" -> spans.map(s => Raw(obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end))),
        "jobs" -> tracer.jobs.map(Raw), "stages" -> tracer.stages.map(Raw),
        "plans" -> tracer.plans.map(Raw))
      Files.writeString(Paths.get(out, "harness.json"), doc)
    }
  }
}
