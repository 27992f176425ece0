package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One timed call into a layer, recorded from the benchmark's side of the
  * call. `cycle` is the loop cycle the span belongs to (-1 outside one).
  */
final case class Span(id: Int, parent: Int, name: String, cycle: Int,
    startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one job: the span that submitted it (a local
  * property set on span entry, inherited by SQL's helper threads) and the
  * module of the first `graft.*` frame of its call site.
  */
final class JobRec(val span: Int, val module: String, val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0L
  var runMs = 0L
  var inputRows = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  def seconds: Double = (endMs - startMs) / 1e3
}

/** In-memory span recorder plus a job/task listener. Spans are always
  * timed (the loop needs its cycle times); the Spark listener and the
  * span property are only active while `enabled`, which is the traced
  * run's extra cost.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  val SpanProp = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var cycle: Int = -1
  @volatile private var listening = false

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      jobs(e.jobId) = new JobRec(span, Tracer.moduleOf(site), e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (j <- stageJob.get(e.stageId); rec <- jobs.get(j)) {
        rec.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          rec.runMs += m.executorRunTime
          rec.inputRows += m.inputMetrics.recordsRead
          rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          rec.peakExecMem = math.max(rec.peakExecMem, m.peakExecutionMemory)
        }
      }
    }
  }

  def setEnabled(on: Boolean): Unit = if (on != listening) {
    if (on) spark.sparkContext.addSparkListener(listener)
    else {
      drain()
      spark.sparkContext.removeSparkListener(listener)
    }
    listening = on
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit =
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, parent, name, cycle, System.nanoTime())
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    if (listening) sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  /** Jobs per span id, after draining the listener queue. */
  def jobsBySpan(): Map[Int, Seq[JobRec]] = {
    drain()
    jobs.synchronized(jobs.values.toSeq).groupBy(_.span)
  }

  /** Jobs of span `id` and of every span below it. */
  def jobsUnder(id: Int, bySpan: Map[Int, Seq[JobRec]]): Seq[JobRec] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    bySpan.getOrElse(id, Nil) ++ kids.flatMap(jobsUnder(_, bySpan))
  }

  /** Self time: the span's wall time minus what its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Spans as JSON lines with the shared run id, then one line per span
    * name with its total self time.
    */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""cycle":${s.cycle},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""self_s":${selfSeconds(s)}%.6f}"""
    } ++ spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      f"""{"run":"$runId","layer":"$name","self_s":${ss.map(selfSeconds).sum}%.6f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Module of the first `graft.<module>.` frame of a job's call site;
    * `graft` for top-level graft classes, `bench` when only benchmark or
    * Spark frames submitted it.
    */
  def moduleOf(callSite: String): String = {
    val frame = callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
    frame.map { f =>
      val parts = f.takeWhile(_ != '(').split('.')
      if (parts.length > 2 && parts(1).headOption.exists(_.isLower)) parts(1)
      else "graft"
    }.getOrElse("bench")
  }
}

/** A [[graft.streaming.Bus]] that delegates to a [[graft.streaming.MemoryBus]]
  * and counts and times the calls the system makes on it.
  */
final class CountingBus(val inner: graft.streaming.MemoryBus)
    extends graft.streaming.Bus {
  var readNs = 0L
  var writeNs = 0L
  var writes = 0L

  private def timed[T](add: Long => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(System.nanoTime() - t0)
  }

  override def readBatch(spark: SparkSession, topics: Seq[String],
      startOffsets: Map[String, Long]): DataFrame =
    timed(readNs += _)(inner.readBatch(spark, topics, startOffsets))

  override def write(df: DataFrame): Map[String, Long] = {
    writes += 1
    timed(writeNs += _)(inner.write(df))
  }

  override def endOffsets(spark: SparkSession, topics: Seq[String]): Map[String, Long] =
    timed(readNs += _)(inner.endOffsets(spark, topics))
}
