package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** An op's output did not match what the benchmark predicted. */
final class Mismatch(msg: String) extends RuntimeException(msg)

object Json {
  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

/** Raw outcome of one run: timing samples, op outcomes and named values.
  * Everything statistical happens in run.py. */
final class Result {
  var setupBase = 0.0
  val setupReps = mutable.ArrayBuffer.empty[Double]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def put(name: String, v: Double): Unit = values(name) = v
  def add(name: String, v: Double): Unit =
    values(name) = values.getOrElse(name, 0.0) + v

  /** Run one op; a throw or a [[Mismatch]] counts it failed. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        if (failures.size < 20) failures += s"$what: ${e.getMessage}".take(300)
        System.err.println(s"[perfbench] FAILED $what: $e")
        None
    }
  }

  def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new Mismatch(s"$what: got $got, expected $want")

  def toJson: String = {
    import Json.str
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val smp = samples.map { case (k, v) =>
      str(k) + ":" + v.map(num).mkString("[", ",", "]") }.mkString("{", ",", "}")
    val vals = values.map { case (k, v) => str(k) + ":" + num(v) }
      .mkString("{", ",", "}")
    s"""{"setup_base_s":${num(setupBase)},""" +
      s""""setup_reps_s":${setupReps.map(num).mkString("[", ",", "]")},""" +
      s""""samples":$smp,"values":$vals,"attempted":$attempted,""" +
      s""""failed":$failed,"failures":${failures.map(str).mkString("[", ",", "]")}}"""
  }
}

/** In-memory spans around each call into a layer, written when the run
  * ends. Calls come from the main thread only. */
final class Tracer(val on: Boolean) {
  private final case class Span(id: Int, parent: Int, name: String,
      start: Long, var end: Long)
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, open.headOption.getOrElse(-1), name,
        System.nanoTime(), 0L)
      spans += s
      open = s.id :: open
      try body
      finally { s.end = System.nanoTime(); open = open.tail }
    }

  def write(path: Path): Unit = {
    val child = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.end - s.start).sum).toMap
    val lines = spans.map { s =>
      val self = (s.end - s.start) - child.getOrElse(s.id, 0L)
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":$self}"""
    }
    Files.write(path, lines.asJava)
  }
}

/** Spark's own counters, through its public listener API. SQL executions
  * are kept with their call stack so time can be attributed to the engine
  * code that ran them. */
final class SparkCounters extends SparkListener {
  val jobs, tasks, shuffleBytes, spillBytes, inputBytes, recordsRead,
    cpuNs = new AtomicLong
  val fenceSeen = new AtomicLong
  /** (startMs, endMs, call stack) of every finished SQL execution. */
  val sqlLog = new ConcurrentLinkedQueue[(Long, Long, String)]
  private val sqlStarted = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val desc = Option(e.properties).map(_.getProperty("spark.job.description"))
    desc.filter(d => d != null && d.startsWith(Probe.FencePrefix))
      .foreach(d => fenceSeen.accumulateAndGet(
        d.stripPrefix(Probe.FencePrefix).toLong, math.max))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStarted.put(s.executionId, (s.time, s.details))
    case x: SparkListenerSQLExecutionEnd =>
      Option(sqlStarted.remove(x.executionId)).foreach { case (t, d) =>
        sqlLog.add((t, x.time, d)) }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  /** Wall seconds covered by the union of finished SQL executions whose
    * call stack matches, between two instants (ms). Executions that
    * overlap (a check gate runs its checks in parallel) count once. */
  def busySeconds(fromMs: Long, toMs: Long, stack: String => Boolean): Double = {
    val iv = sqlLog.asScala.filter { case (s, e, c) =>
      s >= fromMs && e <= toMs && stack(c) }.map(j => (j._1, j._2)).toSeq
      .sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + curE - curS) / 1e3
  }
}

/** Every successful query execution, with its final plan. */
final class QueryLog extends QueryExecutionListener {
  final case class Done(func: String, qe: QueryExecution, durNs: Long)
  val done = new LinkedBlockingQueue[Done]
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    done.put(Done(f, qe, d))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def drain(): Seq[Done] = {
    val b = new java.util.ArrayList[Done]
    done.drainTo(b)
    b.asScala.toSeq
  }
}

/** /proc and JVM counters for the context metrics. */
object Host {
  private def gauge[A](default: A)(f: => A): A =
    try f catch { case _: Exception => default }

  def stealS: Double = gauge(0.0) {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).get.trim.split("\\s+")
    f(8).toLong / 100.0
  }

  def runqS: Double = gauge(0.0) {
    Files.list(Paths.get("/proc/self/task")).iterator().asScala.map { t =>
      gauge(0L)(Files.readString(t.resolve("schedstat")).trim
        .split("\\s+")(1).toLong)
    }.sum / 1e9
  }

  def peakRssMb: Double = gauge(0.0) {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
  }

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def jitS: Double = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime / 1e3
}

/** What a workload uses to reach Spark's counters and the trace. */
final class Probe(val spark: SparkSession, val tracer: Tracer,
    val res: Result) {
  val counters = new SparkCounters
  val queries = new QueryLog
  spark.sparkContext.addSparkListener(counters)
  spark.listenerManager.register(queries)
  private val steal0 = Host.stealS
  private val runq0 = Host.runqS
  private var fences = 0L
  private var fenceNs = 0L

  /** Block until both listeners have seen every event posted so far: a
    * marked job is posted after them on the same ordered bus. */
  def fence(): Unit = {
    val t0 = System.nanoTime()
    fences += 1
    val sc = spark.sparkContext
    sc.setJobDescription(Probe.FencePrefix + fences)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (counters.fenceSeen.get < fences && System.nanoTime() < deadline)
      Thread.sleep(2)
    fenceNs += System.nanoTime() - t0
  }

  /** Span plus, when traced, a named value with its duration. */
  def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    if (tracer.on) res.add(s"${name}_s", (System.nanoTime() - t0) / 1e9)
    r
  }

  def finish(): Unit = if (tracer.on) {
    fence()
    val r = res
    r.put("spark.jobs", counters.jobs.get.toDouble)
    r.put("spark.tasks", counters.tasks.get.toDouble)
    r.put("spark.shuffle_bytes", counters.shuffleBytes.get.toDouble)
    r.put("spark.spill_bytes", counters.spillBytes.get.toDouble)
    r.put("spark.input_bytes", counters.inputBytes.get.toDouble)
    r.put("spark.executor_cpu_s", counters.cpuNs.get / 1e9)
    r.put("jvm.gc_s", Host.gcS)
    r.put("jvm.jit_s", Host.jitS)
    r.put("host.steal_s", Host.stealS - steal0)
    r.put("host.runq_s", Host.runqS - runq0)
    r.put("trace.fence_s", fenceNs / 1e9)
  }
}

/** Walks of executed plans. */
object Plans {
  /** Every node of a final plan, descending into AQE stages, reused
    * exchanges, cached relations and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => m.children :+ m.relation.cachedPlan
      case other => other.children ++ other.subqueries
    }
    val out = Seq.newBuilder[SparkPlan]
    def walk(p: SparkPlan): Unit = { out += p; children(p).foreach(walk) }
    walk(plan)
    out.result()
  }


  /** (output path, bytes written) of a file-writing command, if any. */
  def written(qe: QueryExecution): Option[(String, Long)] =
    nodes(qe.executedPlan).collectFirst {
      case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
        (w.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.toUri.getPath,
          w.metrics.get("numOutputBytes").map(_.value).getOrElse(0L))
    }
}

object Probe {
  val FencePrefix = "perfbench-fence-"
}
