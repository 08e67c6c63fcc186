package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span log, written out once when the benchmark ends. Spans are
  * recorded by the benchmark around its calls into each layer; `unit` is
  * the micro-batch round or query sample the span belongs to. A traced run
  * first measures a window with recording off, then the same window with
  * it on (`on`), so the two can be compared.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span
  @volatile var on = false

  private val ids = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Time `body` as a span; when tracing is off only `body` runs. */
  def span[T](name: String, unit: String, parent: Long = 0L)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally record(id, name, t0, System.nanoTime(), parent, unit)
    }

  /** Record a span whose bounds were measured elsewhere. */
  def add(name: String, startNs: Long, endNs: Long, parent: Long, unit: String): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      record(id, name, startNs, endNs, parent, unit)
      id
    }

  private def record(id: Long, name: String, s: Long, e: Long, parent: Long, unit: String): Unit =
    spans.synchronized { spans += Span(id, name, s, e, parent, unit) }

  def write(path: java.nio.file.Path): Int = spans.synchronized {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""")
        .append(s""""end_ns":${s.endNs},"parent":${s.parent},"unit":${Json.str(s.unit)}}""")
        .append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
    spans.size
  }
}

object Trace {
  private final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
      parent: Long, unit: String)
}

/** Spark execution counters attributed to a unit of work: the job group
  * for query samples, the `streaming.sql.batchId` local property for
  * micro-batches.
  */
final class ExecCounters extends SparkListener {
  final class Counts {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    /** Records read per task, by stage: the source scan is the lowest stage. */
    val recordsRead = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val units = mutable.Map.empty[String, Counts]
  private val stageUnit = mutable.Map.empty[Int, String]
  private val persisted = mutable.Map.empty[String, Long]
  @volatile private var lastUnit = ""

  private def keyOf(props: java.util.Properties): String =
    if (props == null) ""
    else Option(props.getProperty("streaming.sql.batchId")).map("batch:" + _)
      .orElse(Option(props.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  def counts(key: String): Counts = synchronized(units.getOrElseUpdate(key, new Counts))
  def keys: Seq[String] = synchronized(units.keys.toSeq)
  def persistedBytes(key: String): Long = synchronized(persisted.getOrElse(key, 0L))

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(j.properties)
    lastUnit = k
    val u = units.getOrElseUpdate(k, new Counts)
    u.jobs += 1
    j.stageIds.foreach(stageUnit(_) = k)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val k = stageUnit.getOrElse(s.stageInfo.stageId, "")
    units.getOrElseUpdate(k, new Counts).stages += 1
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val k = stageUnit.getOrElse(t.stageId, "")
    val u = units.getOrElseUpdate(k, new Counts)
    u.tasks += 1
    u.taskMs += t.taskInfo.duration
    val m = t.taskMetrics
    if (m != null) {
      u.runMs += m.executorRunTime
      u.gcMs += m.jvmGCTime
      u.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      u.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      u.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.inputMetrics.recordsRead > 0)
        u.recordsRead.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
          m.inputMetrics.recordsRead
    }
  }

  /** Bytes of RDD blocks stored while a unit ran (the foreachBatch persist). */
  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
    val info = b.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) synchronized {
      persisted(lastUnit) = persisted.getOrElse(lastUnit, 0L) + info.memSize + info.diskSize
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** A flat or nested JSON object from Scala values (Map, Seq, String,
    * numbers, Boolean).
    */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default), NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)

  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
