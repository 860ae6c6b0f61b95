package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span is one call into a
  * graft layer made from the benchmark: name, start, end, and the span that
  * was open when it started. All spans of a run share `runId`; they are
  * written out once, when the run ends. With `enabled = false` a span is a
  * plain call: nothing is allocated or recorded. */
final class Tracer(val runId: String, val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Seconds of the spans called `name`, in call order. */
  def seconds(name: String): Seq[Double] = spans.filter(_.name == name).sortBy(_.startNs).map(_.seconds).toSeq

  def toJson: String = spans.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/** The `spark` layer (scheduler and shuffle), counted from listener events
  * while a window is open. Attached only in the traced run. */
final class SparkCounters extends SparkListener {
  private var counting = false
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** stage id -> task run times (ms) of that stage's finished tasks */
  val taskMs = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Long]]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; shuffleWriteBytes = 0; spillBytes = 0
    taskMs.clear()
  }
  def start(): Unit = synchronized { reset(); counting = true }
  def stop(sc: org.apache.spark.SparkContext): Unit = {
    org.apache.spark.ListenerDrain(sc)
    synchronized { counting = false }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (counting) jobs += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (counting) stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (counting && e.taskInfo != null) {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += e.taskInfo.duration
    }
  }

  /** Max over median task time of the stage that ran longest in total,
    * among stages with at least `minTasks` tasks: how far the slowest
    * task of the heaviest parallel stage lags behind a typical one. */
  def taskMaxOverMedian(minTasks: Int): Double = synchronized {
    val heavy = taskMs.values.filter(_.size >= minTasks)
    if (heavy.isEmpty) 1.0
    else {
      val ts = heavy.maxBy(_.sum).sorted
      val median = math.max(1L, ts(ts.size / 2))
      ts.last.toDouble / median
    }
  }
}

object Par {
  /** `f` over `xs` on `threads` threads, results in input order. */
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }
}

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

  /** `{"name":{"value":v,"unit":"u"},...}`; a value is printed with all
    * its digits, and one that could not be measured as null. */
  def metrics(rows: Seq[(String, Double, String)]): String = rows.map { case (k, v, u) =>
    val value = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    s"""${str(k)}:{"value":$value,"unit":${str(u)}}"""
  }.mkString("{", ",", "}")
}
