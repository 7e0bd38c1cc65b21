package epochbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.EpochbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span. */
final case class Counts(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0,
                        shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks, runMs + o.runMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
}

/** One timed call into a layer: name, start and end (seconds since the
  * tracer started), and the span that was open when it began (0 = none).
  */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def seconds: Double = end - start
}

/** Records spans around calls made from the benchmark's own code and
  * attributes Spark jobs and tasks to the span that submitted them. A job
  * carries the span id as a local property; a job submitted without one
  * (from a thread that did not inherit it) goes to the innermost open span.
  * Spans are kept in memory; [[spans]] hands them out at the end.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val Prop = "epochbench.span"
  private val origin = System.nanoTime()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Counts]()
  private val recorded = ArrayBuffer.empty[Span]
  @volatile private var open = 0
  private var nextId = 1
  sc.addSparkListener(this)

  private def now: Double = (System.nanoTime() - origin) / 1e9

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = open
    val previous = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    open = id
    val start = now
    try {
      val result = body
      val s = Span(id, name, parent, start, now)
      recorded += s
      (result, s)
    } finally {
      sc.setLocalProperty(Prop, previous)
      open = parent
    }
  }

  /** Counts of the span and of every span nested in it. */
  def counts(s: Span): Counts = {
    EpochbenchBus.drain(sc)
    val ids = descendants(s.id)
    ids.foldLeft(Counts())((acc, id) => acc + bySpan.getOrDefault(id, Counts()))
  }

  private def descendants(id: Int): Set[Int] = {
    val kids = recorded.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))((acc, k) => acc ++ descendants(k))
  }

  def spans: Seq[Span] = recorded.toSeq

  def close(): Unit = sc.removeSparkListener(this)

  private def add(id: Int, c: Counts): Unit = bySpan.merge(id, c, (a: Counts, b: Counts) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
    val id = tagged.getOrElse(open)
    e.stageIds.foreach(stageSpan.put(_, id))
    add(id, Counts(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.getOrDefault(e.stageId, open)
    val m = e.taskMetrics
    val c = if (m == null) Counts(tasks = 1) else Counts(
      tasks = 1,
      runMs = m.executorRunTime,
      shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
    add(id, c)
  }
}
