package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and counters of a traced run. Spans carry a name,
  * start, end, parent and run id, and are written as JSONL when the
  * run ends. Counters are named `layer.metric` and only ever grow; a
  * caller takes [[snapshot]]s around the region it attributes. With
  * tracing off every entry point is a no-op, so the untraced run pays
  * one volatile read per call. */
object Trace {
  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString.take(8)

  final case class Span(id: Long, parent: Long, name: String,
      startNs: Long, endNs: Long, attrs: Map[String, String])

  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()

  def span[T](name: String, attrs: (String, String)*)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        spans.synchronized {
          spans += Span(id, parent, name, t0, t1, attrs.toMap)
        }
        add(name + "_s", (t1 - t0) / 1e9)
      }
    }

  def add(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def snapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap

  def delta(after: Map[String, Double], before: Map[String, Double])
      : Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  /** Write every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      Json.obj(Seq("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** The listener bus is asynchronous: drain it so the events of the
    * region just timed are counted before its closing snapshot.
    * `listenerBus` is private[spark] but bytecode-public. */
  def flush(sc: SparkContext): Unit =
    if (enabled && !sc.isStopped) {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

  /** Spark conf that attaches the three listeners below to every
    * session the run creates, including the ones the CLIs build. */
  val listenerConf: Map[String, String] = Map(
    "spark.extraListeners" -> classOf[JobListener].getName,
    "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName,
    "spark.sql.streaming.streamingQueryListeners" ->
      classOf[StreamListener].getName)

  /** Local property naming the phase (build/force) of the jobs the
    * calling thread submits. */
  val PhaseKey = "graftbench.phase"
}

/** Jobs, stages, tasks, executor CPU, shuffle and spill. */
final class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Trace.add("spark.jobs", 1)
    val phase = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.PhaseKey)))
    phase.foreach(p => Trace.add(s"operators.${p}_jobs", 1))
    // a job whose every stage is a shuffle map stage was submitted
    // with submitMapStage: an adaptive query stage being materialized
    if (e.stageInfos.nonEmpty && e.stageInfos.forall(isShuffleMap))
      Trace.add("spark.map_stage_jobs", 1)
    // a broadcast exchange collects its relation in a job tagged
    // "broadcast exchange (runId ...)": an adaptive broadcast stage
    else if (Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.contains("broadcast exchange")))
      Trace.add("spark.broadcast_stage_jobs", 1)
  }
  // StageInfo.shuffleDepId is private[spark] (bytecode-public)
  private def isShuffleMap(s: StageInfo): Boolean =
    s.getClass.getMethod("shuffleDepId").invoke(s)
      .asInstanceOf[Option[_]].isDefined
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.add("spark.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Trace.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      Trace.add("spark.shuffle_write_mb",
        m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      Trace.add("spark.spill_mb", m.diskBytesSpilled / 1048576.0)
    }
  }
}

/** Catalyst phase times of every action, from the query's tracker. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    Trace.add("plans.actions", 1)
    Trace.add("plans.analysis_ms", ms("analysis"))
    Trace.add("plans.optimize_ms", ms("optimization"))
    Trace.add("plans.planning_ms", ms("planning"))
  }
}

/** Drains: query start to terminate, and each micro-batch's
  * `durationMs` split. */
final class StreamListener extends StreamingQueryListener {
  private val started = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = started.put(e.id, System.nanoTime())
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = {
    val d = e.progress.durationMs
    def ms(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    if (d.containsKey("addBatch")) Trace.add("streaming.batches", 1)
    Trace.add("streaming.query_planning_ms", ms("queryPlanning"))
    Trace.add("streaming.get_batch_ms", ms("getBatch"))
    Trace.add("streaming.add_batch_ms", ms("addBatch"))
    Trace.add("streaming.wal_commit_ms", ms("walCommit"))
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    Trace.add("streaming.drains", 1)
    Option(started.remove(e.id)).foreach { t0 =>
      Trace.add("streaming.start_to_end_s", (System.nanoTime() - t0) / 1e9)
    }
  }
}
