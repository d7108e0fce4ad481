package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Latency samples of one kind, in milliseconds. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = xs += ms
  def n: Int = xs.size
  def last: Double = xs.last
  /** Nearest-rank percentile (p in 0..100); NaN when empty. */
  def pct(p: Double): Double = Samples.pct(xs.toSeq, p)
}

object Samples {
  def pct(vs: Seq[Double], p: Double): Double =
    if (vs.isEmpty) Double.NaN
    else {
      val s = vs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }
  def median(vs: Seq[Double]): Double = pct(vs, 50)
}

/** One closed interval of a traced call. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Spans are recorded only while `enabled`; the current
  * span id rides the SparkContext local property [[Tracer.SpanKey]], so
  * the [[EngineCounters]] listener can charge every job, stage and task
  * to the span that started it. Single client thread. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val nextId = new AtomicLong(1)
  private val stack = mutable.Stack.empty[Long]
  private var opId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Time `body` as a root span of a new operation; returns the result
    * and the wall time in ms (measured whether or not tracing is on). */
  def op[T](name: String)(body: => T): (T, Double) = {
    opId = nextId.getAndIncrement()
    val t0 = System.nanoTime()
    val r = span(name)(body)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, opId, name, t0, t1)
      }
    }

  /** Self time of each span: its duration minus the time its direct
    * children cover (children of one span never overlap here). */
  def selfMs: Map[Long, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.durMs).sum).toMap
    spans.map(s => s.id -> (s.durMs - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** What the engine did on behalf of one span. */
final class Counts {
  var jobs, stages, tasks = 0L
  var shuffleWriteBytes, inputBytes, recordsRead, spillBytes = 0L
  var runMs, cpuNs = 0L
  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; inputBytes += o.inputBytes
    recordsRead += o.recordsRead; spillBytes += o.spillBytes
    runMs += o.runMs; cpuNs += o.cpuNs
  }
}

/** SparkListener the benchmark registers in traced runs: charges jobs,
  * stages and task metrics to the span id carried by the job's
  * properties. */
final class EngineCounters extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val bySpan = new ConcurrentHashMap[Long, Counts]()
  private def of(span: Long): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
    of(span).synchronized { of(span).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageSpan.getOrDefault(e.stageId, 0L))
      c.synchronized {
        c.tasks += 1
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
      }
    }
  }

  def total(spanIds: Iterable[Long]): Counts = {
    val t = new Counts
    spanIds.foreach(id => Option(bySpan.get(id)).foreach(c => c.synchronized(t += c)))
    t
  }
}

/** JVM-wide GC time and heap peak over a measured interval. */
final class JvmWatch {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
  }
  private def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def gcSinceStartMs: Long = gcMs - gc0
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Recursive data-file census of a table directory. */
object TableFiles {
  def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(new java.io.File(dir))
  }
  def bytes(dir: String): Long = dataFiles(dir).map(_.length).sum
}
