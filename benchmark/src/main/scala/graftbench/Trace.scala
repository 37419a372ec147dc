package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * In-memory tracing for the traced run: one span per public call of the
 * program (name, family, operation id, parent, start, end), plus a
 * SparkListener that charges every job and task to the span that was open on
 * the submitting thread, and a StreamingQueryListener that keeps every
 * micro-batch progress report. When tracing is off `span` only runs its body.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val key = "graftbench.span"

  /** Per-span Spark counters, keyed by span id. */
  private val counters = new java.util.concurrent.ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val progress = mutable.ArrayBuffer.empty[(java.util.UUID, Map[String, Long], Long)]

  private def countersOf(id: Long): Counters = counters.computeIfAbsent(id, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(key))).map(_.toLong)
      span.foreach { s =>
        countersOf(s).jobs.incrementAndGet()
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (stageSpan.containsKey(e.stageId)) {
        val c = countersOf(stageSpan.get(e.stageId))
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.scanRows.addAndGet(m.inputMetrics.recordsRead)
          c.scanBytes.addAndGet(m.inputMetrics.bytesRead)
          c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      var m = Map.empty[String, Long]
      d.keySet().forEach(k => m += k -> d.get(k).longValue())
      val state = p.stateOperators.map(_.numRowsTotal).sum
      progress.synchronized { progress += ((p.id, m, state)) }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` inside a span; children opened on this thread nest under it. */
  def span[T](name: String, family: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get().headOption
      val fam = if (family.nonEmpty) family else parent.map(_.family).getOrElse("")
      val s = Span(nextId.incrementAndGet(), name, fam,
        parent.map(_.op).getOrElse(0L), parent.map(_.id).getOrElse(0L), System.nanoTime())
      val op = if (s.op == 0L) s.copy(op = s.id) else s
      stack.set(op :: stack.get())
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(key)
      sc.setLocalProperty(key, op.id.toString)
      try body
      finally {
        op.end = System.nanoTime()
        sc.setLocalProperty(key, prev)
        stack.set(stack.get().tail)
        spans.synchronized { spans += op }
      }
    }

  /** Spans that start before this instant (set-up, warm-up) are kept in the
   * trace but left out of the layer metrics. */
  @volatile private var measuredFrom = Long.MinValue
  def startMeasuring(): Unit = { drain(); measuredFrom = System.nanoTime() }

  /** Writes every span as one JSON object per line. */
  def dump(path: String): Unit = if (enabled) {
    val t0 = all.map(_.start).foldLeft(Long.MaxValue)(math.min)
    val lines = all.sortBy(_.start).map { s =>
      val c = countersFor(s)
      "{" + Seq(
        "\"id\":" + s.id, "\"op\":" + s.op, "\"parent\":" + s.parent,
        "\"name\":" + Stats.jsonString(s.name), "\"family\":" + Stats.jsonString(s.family),
        "\"start_ms\":" + Stats.jsonNumber((s.start - t0) / 1e6),
        "\"end_ms\":" + Stats.jsonNumber((s.end - t0) / 1e6),
        "\"measured\":" + (s.start >= measuredFrom),
        "\"jobs\":" + c.jobs.get, "\"tasks\":" + c.tasks.get).mkString(",") + "}"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Deliver pending listener events before counters are read. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchBus.drain(spark.sparkContext)

  def stop(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)
  /** Measured spans of one name (and family). */
  def named(name: String, family: String = ""): Seq[Span] =
    all.filter(s => s.start >= measuredFrom && s.name == name && (family.isEmpty || s.family == family))
  def countersFor(s: Span): Counters = Option(counters.get(s.id)).getOrElse(new Counters)

  /** Self time of a span: its duration minus that of its direct children. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(_.ms).sum
    s.ms - kids
  }

  /** Streaming progress reports of the given query ids, oldest first. */
  def progressOf(ids: Set[java.util.UUID]): Seq[(Map[String, Long], Long)] =
    progress.synchronized(progress.filter(p => ids.contains(p._1)).map(p => (p._2, p._3)).toList)

  /**
   * Per-family layer metrics over the operations of each family: the engine
   * call (`engine`), plan forcing (`catalyst`) and collection (`exec`).
   * Durations are medians over operations, counts are means per operation.
   */
  def queryLayers(families: Seq[String]): Map[String, Double] =
    families.flatMap { f =>
      def perOp(name: String)(g: Span => Double): Double = Stats.mean(named(name, f).map(g))
      def p50(name: String): Double = Stats.median(named(name, f).map(selfMs))
      Seq(
        s"engine.build_ms.$f" -> p50("engine"),
        s"engine.build_jobs.$f" -> perOp("engine")(countersFor(_).jobs.get.toDouble),
        s"catalyst.plan_ms.$f" -> p50("catalyst"),
        s"exec.ms.$f" -> p50("exec"),
        s"exec.jobs.$f" -> perOp("exec")(countersFor(_).jobs.get.toDouble),
        s"exec.tasks.$f" -> perOp("exec")(countersFor(_).tasks.get.toDouble),
        s"exec.scan_rows.$f" -> perOp("exec")(countersFor(_).scanRows.get.toDouble),
        s"exec.scan_bytes.$f" -> perOp("exec")(countersFor(_).scanBytes.get.toDouble),
        s"exec.shuffle_bytes.$f" -> perOp("exec")(countersFor(_).shuffleBytes.get.toDouble),
        s"exec.cpu_ms.$f" -> perOp("exec")(countersFor(_).cpuNs.get / 1e6))
    }.toMap
}

object Tracer {
  final case class Span(id: Long, name: String, family: String, op: Long, parent: Long, start: Long) {
    @volatile var end: Long = start
    def ms: Double = (end - start) / 1e6
  }

  final class Counters {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val scanRows = new AtomicLong
    val scanBytes = new AtomicLong
    val shuffleBytes = new AtomicLong
  }
}
