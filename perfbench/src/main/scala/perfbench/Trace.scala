package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics the listener attributes to one span. */
final class TaskAgg {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  def add(o: TaskAgg): Unit = {
    jobs.addAndGet(o.jobs.get); tasks.addAndGet(o.tasks.get)
    runMs.addAndGet(o.runMs.get); cpuNs.addAndGet(o.cpuNs.get)
    gcMs.addAndGet(o.gcMs.get)
    shuffleWriteBytes.addAndGet(o.shuffleWriteBytes.get)
    spillBytes.addAndGet(o.spillBytes.get)
  }
}

/** One timed call: name, wall-clock bounds (ns), parent span and the
  * request id shared by every span of one query (0 outside queries). */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. When enabled it also listens to the scheduler:
  * every span sets the thread's job description to its own id, so each job
  * (and each task of the job's stages) is charged to the innermost open
  * span of the thread that submitted it. When disabled, `span` only runs
  * the body: the untraced run carries no listener and no bookkeeping. */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  private val Prefix = "perfbench-span:"
  private val JobDescription = "spark.job.description"
  private val ids = new AtomicLong
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val aggs = new ConcurrentHashMap[Long, TaskAgg]()

  if (enabled) sc.addSparkListener(this)

  private def agg(span: Long): TaskAgg = aggs.computeIfAbsent(span, _ => new TaskAgg)

  def newRequest(): Long = ids.incrementAndGet()

  def span[T](name: String, request: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.get
      val req = if (request >= 0) request else if (parent == null) 0L else parent.request
      val s = Span(ids.incrementAndGet(), name, if (parent == null) 0L else parent.id,
        req, System.nanoTime())
      val prevDesc = sc.getLocalProperty(JobDescription)
      sc.setJobDescription(Prefix + s.id)
      open.set(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        spans.add(s)
        open.set(parent)
        sc.setJobDescription(prevDesc)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobDescription)))
    desc.filter(_.startsWith(Prefix)).foreach { d =>
      val id = d.stripPrefix(Prefix).toLong
      agg(id).jobs.incrementAndGet()
      e.stageIds.foreach(st => stageSpan.put(st, id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (id != 0L && m != null) {
      val a = agg(id)
      a.tasks.incrementAndGet()
      a.runMs.addAndGet(m.executorRunTime)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (enabled && !sc.isStopped)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Task metrics of a span and every span nested in it. */
  def tasksOf(s: Span): TaskAgg = {
    val children = all.groupBy(_.parent)
    val total = new TaskAgg
    def walk(x: Span): Unit = {
      Option(aggs.get(x.id)).foreach(total.add)
      children.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    total
  }

  /** Spans as JSON lines, written once at the end of the run. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val a = Option(aggs.get(s.id)).getOrElse(new TaskAgg)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${a.jobs.get},""" +
        f""""tasks":${a.tasks.get},"task_ms":${a.runMs.get},"cpu_ms":${a.cpuNs.get / 1e6}%.3f,""" +
        f""""gc_ms":${a.gcMs.get},"shuffle_write_bytes":${a.shuffleWriteBytes.get},""" +
        f""""spill_bytes":${a.spillBytes.get}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = if (enabled && !sc.isStopped) sc.removeSparkListener(this)
}
