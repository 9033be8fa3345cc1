package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Spans around the benchmark's calls into the engine's layers, plus the
  * Spark work each span caused.
  *
  * A span has a name, start, end, parent and the id of the operation it
  * belongs to. Jobs, tasks, executor CPU, shuffle and spill are charged
  * to the innermost open span through a job-group-style local property
  * (it follows the action into broadcast and subquery threads); the
  * analysis + optimization + planning time of each query comes from its
  * `QueryPlanningTracker` via a `QueryExecutionListener`. The listener
  * bus is drained at every span boundary, so events posted inside a span
  * are handled while it is still open.
  *
  * Spark is lazy: a layer's work only runs when something consumes its
  * output. [[materialize]] forces that at the span boundary (persist +
  * count) and pins the result until the operation ends.
  */
final class Tracer(spark: SparkSession) extends Probe {
  import Tracer._

  private final class Acc {
    val jobs, tasks, cpuNs, shuffleBytes, spillBytes, planMs = new LongAdder
  }

  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var opId = -1
  @volatile private var openSpan = -1
  private val accs = new ConcurrentHashMap[Integer, Acc]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  private val pinned = mutable.ArrayBuffer.empty[DataFrame]
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  private def acc(id: Int): Acc = accs.computeIfAbsent(id, _ => new Acc)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
        val id = s.toInt
        acc(id).jobs.increment()
        e.stageIds.foreach(stage => stageSpan.put(stage, id))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val a = acc(id)
        a.tasks.increment()
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs.add(m.executorCpuTime)
          a.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          a.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = charge(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = charge(qe)
    private def charge(qe: QueryExecution): Unit = {
      val id = openSpan
      if (id >= 0) {
        val phases = qe.tracker.phases
        acc(id).planMs.add(PlanPhases.flatMap(phases.get).map(_.durationMs).sum)
      }
    }
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)

  private def enter(name: String): Span = {
    ListenerDrain(sc)
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, parent, opId, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    openSpan = s.id
    s
  }

  private def exit(s: Span): Unit = {
    s.endNs = System.nanoTime()
    ListenerDrain(sc)
    stack = stack.tail
    val parent = stack.headOption.map(_.id.toString).orNull
    sc.setLocalProperty(SpanKey, parent)
    openSpan = stack.headOption.map(_.id).getOrElse(-1)
  }

  /** One operation (a read, a write, a batch pass): a root span whose
    * layer spans share its id. Frames pinned by [[materialize]] inside
    * it are released when it ends.
    */
  override def op[T](name: String)(body: => T): T = {
    opId += 1
    val s = enter(name)
    try body
    finally {
      pinned.foreach(_.unpersist(blocking = true))
      pinned.clear()
      exit(s)
    }
  }

  override def layer[T](name: String)(body: => T): T = {
    val s = enter(name)
    try body finally exit(s)
  }

  /** Runs `df`'s plan now, inside the open span, and returns the cached result. */
  override def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    pinned += p
    p
  }

  override def count(name: String, v: => Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v

  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  /** `L.calls`, `L.self_ms`, `L.plan_ms`, `L.cpu_ms`, `L.jobs`, `L.tasks`,
    * `L.shuffle_bytes`, `L.spill_bytes` for every layer in `layers`
    * (zero for a layer the workload never called), plus the counters.
    */
  def layerMetrics(layers: Seq[String]): Seq[(String, Double)] = {
    ListenerDrain(sc)
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    layers.flatMap { l =>
      val mine = spans.filter(_.name == l)
      val as = mine.flatMap(s => Option(accs.get(s.id)))
      def sum(f: Acc => LongAdder): Double = as.map(f(_).sum.toDouble).sum
      Seq(
        s"$l.calls" -> mine.size.toDouble,
        s"$l.self_ms" -> mine.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e6,
        s"$l.plan_ms" -> sum(_.planMs),
        s"$l.cpu_ms" -> sum(_.cpuNs) / 1e6,
        s"$l.jobs" -> sum(_.jobs),
        s"$l.tasks" -> sum(_.tasks),
        s"$l.shuffle_bytes" -> sum(_.shuffleBytes),
        s"$l.spill_bytes" -> sum(_.spillBytes))
    } ++ counters.toSeq
  }

  /** Every span, one JSON object per line, times in ms since the tracer started. */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    Json.write(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)))
  }

  def close(): Unit = {
    ListenerDrain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    sc.setLocalProperty(SpanKey, null)
  }
}

/** What the workloads call around each layer; [[Probe.Off]] for untraced runs. */
trait Probe {
  def op[T](name: String)(body: => T): T
  def layer[T](name: String)(body: => T): T
  def materialize(df: DataFrame): DataFrame
  /** Adds `v` to the counter `name`; `v` is only evaluated when tracing. */
  def count(name: String, v: => Double): Unit
}

object Probe {
  object Off extends Probe {
    override def op[T](name: String)(body: => T): T = body
    override def layer[T](name: String)(body: => T): T = body
    override def materialize(df: DataFrame): DataFrame = df
    override def count(name: String, v: => Double): Unit = ()
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long) {
    var endNs: Long = -1L
  }

  val SpanKey = "perfbench.span"
  private val PlanPhases = Seq("analysis", "optimization", "planning")
}
