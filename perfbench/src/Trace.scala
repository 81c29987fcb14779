package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._

/** Layer spans recorded by the benchmark around its own calls into the
  * program. Off unless the run is traced; kept in memory and written out
  * when the run ends. One client thread makes every call, so a stack
  * gives each span its parent. */
object Trace {
  case class Span(id: Int, parent: Int, name: String, request: Long,
                  startNs: Long, endNs: Long)

  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, request: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, request, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** (name -> (count, total ms, self ms)); self time is a span's
    * duration minus the part of it its children cover. */
  def selfTimes: Seq[(String, (Int, Double, Double))] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
        s.endNs - s.startNs - covered
      }.sum
      name -> ((ss.length, total / 1e6, self / 1e6))
    }
  }

  def count: Int = spans.length

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark task metrics, attached only in traced runs. Listener events
  * arrive asynchronously; `quiesce` waits until every started job has
  * ended before totals are read. */
final class TaskMetricsListener extends SparkListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  val stages = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var stableSince = System.nanoTime()
    var last = -1L
    while (System.nanoTime() < deadline &&
        (jobsEnded.get != jobsStarted.get || System.nanoTime() - stableSince < 200000000L)) {
      val now = jobsEnded.get + stages.get
      if (now != last) { last = now; stableSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  /** (jobs, stages, cpu ms, gc ms, shuffle bytes, spill bytes). */
  def snapshot(): Array[Double] = {
    quiesce()
    Array(jobsEnded.get.toDouble, stages.get.toDouble, cpuNs.get / 1e6,
      gcMs.get.toDouble, shuffleBytes.get.toDouble, spillBytes.get.toDouble)
  }
}
