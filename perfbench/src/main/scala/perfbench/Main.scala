package perfbench

import graft.codecs.{ConnectJson, ZAvro}
import graft.etl.Compiler
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Entry point of the benchmark of the CDC sync → ETL → produce loop and
  * the headline operator gates.
  *
  * {{{
  *   perfbench.Main --workload cdc|gates --seed N --seconds S --trace 0|1
  *     --work DIR [--size full|tiny] [--mix default|alt]
  *     [--inject none|drop_done|corrupt_msg|corrupt_gate]
  * }}}
  *
  * Prints one `RESULT {...}` line: correctness counts, the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  */
object Main {
  final case class Size(batch: Int, backlogCycles: Int, codecRows: Int, gateScale: Double)
  val Sizes = Map(
    "full" -> Size(batch = 200, backlogCycles = 20, codecRows = 20000, gateScale = 1.0),
    "tiny" -> Size(batch = 24, backlogCycles = 4, codecRows = 500, gateScale = 0.1))
  val Cores = 4
  // at least this many timed cycles or gate passes, whatever `--seconds`
  // says (four in a traced run); each is several seconds of fixed costs,
  // and a run must stay under a minute
  val MinOps = 2
  /** Wall-clock counterparts of the end-to-end metrics, which a traced
    * run of either workload reports.
    */
  val WallMetrics: Seq[(String, String)] =
    Seq("wall.setup_s" -> "s", "wall.op_s" -> "s", "wall.rows_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val size = Sizes(opts.getOrElse("size", "full"))
    val mix = CdcGen.Mix.byName(opts.getOrElse("mix", "default"))
    val inject = opts.getOrElse("inject", "none")
    val work = Paths.get(opts("work"))
    require(Set("cdc", "gates")(workload), s"unknown workload $workload")

    val spark = graft.GraftSession.local(Cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = f"$workload-$seed-${if (trace) 1 else 0}-${System.currentTimeMillis()}%x"
    val tracer = new Tracer(spark, runId)
    System.err.println(f"perfbench: session up in $sessionS%.3f s")
    val (out, describe) = try {
      if (workload == "cdc") {
        val bench = new CdcBench(spark, tracer, work.resolve(runId), size, mix, seed,
          seconds, trace)
        (bench.run(t0, inject), bench.describe)
      } else {
        val bench = new GatesBench(spark, tracer, work.resolve(runId), size.gateScale,
          seed, seconds, trace)
        (bench.run(t0, inject), bench.describe)
      }
    } finally spark.stop()
    // every per-layer metric on every workload: 0 for a layer the
    // workload does not exercise
    val metrics = if (!trace) out.metrics else {
      val have = out.metrics.map(_._1).toSet
      out.metrics ++ (CdcBench.LayerMetrics ++ GatesBench.layerMetrics ++ WallMetrics)
        .filterNot(m => have(m._1)).map { case (n, u) => (n, 0.0, u) }
    }
    if (trace) {
      val traces = work.resolveSibling("traces")
      Files.createDirectories(traces)
      tracer.dump(traces.resolve(s"$runId.spans.jsonl"))
    }
    println(s"GENERATOR $describe")
    out.notes.take(20).foreach(n => println(s"NOTE $n"))
    println("RESULT " + out.copy(metrics = metrics).json)
  }
}

final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], notes: Seq[String]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

object Stats {
  /** CPU time of every thread of this JVM since it started (tasks, driver,
    * GC and JIT). The kernel leaves out the time the host's hypervisor
    * gave this VM's cores to other guests (steal time), which wall-clock
    * time counts.
    */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
  }


  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** The `cdc` workload over [[CdcLoop]]: a backlog of many cycles
  * backfilled into empty pools in one timed pass, then small batches
  * through the same loop, one timed cycle each, on top of that history.
  */
final class CdcBench(spark: SparkSession, tracer: Tracer, work: java.nio.file.Path,
    size: Main.Size, mix: CdcGen.Mix, seed: Long, seconds: Double, trace: Boolean) {
  import Stats.median

  private val gen = new CdcGen(seed, size.batch, mix)
  def describe: String = gen.describe + s" backlog_cycles=${size.backlogCycles}"

  /** Per-layer bookkeeping the traced run takes around each cycle. */
  private final class LayerSample(val rec: CycleRec, val busRead: Double,
      val busWrite: Double, val busWrites: Long, val nextOffsets: Double,
      val commits: Long, val bytesRatio: Double)

  private def timedCycle(loop: CdcLoop, rec: CycleRec,
      samples: mutable.ArrayBuffer[LayerSample]): Unit = {
    val (r0, w0, n0) = (loop.bus.readNs, loop.bus.writeNs, loop.bus.writes)
    val (c0, b0) = if (rec.traced) (loop.commits(), loop.poolBytes()) else (0L, 0L)
    tracer.cycle = rec.index
    loop.run(rec)
    tracer.cycle = -1
    if (rec.traced) {
      val t = System.nanoTime()
      loop.raw.nextProducerOffsets()
      loop.staging.foreach(_.nextProducerOffsets())
      val nextOff = (System.nanoTime() - t) / 1e9
      samples += new LayerSample(rec, (loop.bus.readNs - r0) / 1e9,
        (loop.bus.writeNs - w0) / 1e9, loop.bus.writes - n0, nextOff,
        loop.commits() - c0,
        (loop.poolBytes() - b0).toDouble / math.max(1L, rec.inputs.map(_.bytes).sum))
    }
  }

  def run(startNs: Long, inject: String): Outcome = {
    Files.createDirectories(work)
    val loop = new CdcLoop(spark, work.toString, tracer)
    // the backfill: a backlog of many cycles on the bus, synced, transformed
    // and produced in one pass into the empty pools by a process that has
    // not run the loop before, as a backfill job starts. In a traced run it
    // is traced, as the baseline of `cycle_growth`.
    val parts = (0 until size.backlogCycles).map(_ => gen.nextCycle())
    val backfill = new CycleRec(0, parts.flatMap(p => Wire.of(p._1)), parts.flatMap(_._2))
    val setupS = (System.nanoTime() - startNs) / 1e9
    val setupCpuS = Stats.cpuNs() / 1e9
    tracer.setEnabled(trace)
    timedCycle(loop, backfill, mutable.ArrayBuffer.empty)
    tracer.setEnabled(false)

    // incremental cycles on top of that history
    val cycles = mutable.ArrayBuffer(backfill)
    val samples = mutable.ArrayBuffer.empty[LayerSample]
    val m0 = System.nanoTime()
    def timed = cycles.size - 1
    while (timed < (if (trace) 4 else Main.MinOps) ||
        (System.nanoTime() - m0) / 1e9 < seconds) {
      val (msgs, outs) = gen.nextCycle()
      val rec = new CycleRec(cycles.size, Wire.of(msgs), outs)
      // untraced, traced, traced, untraced, ...: the tracing overhead is
      // measured in the same run, and a linear warm-up trend cancels out
      rec.traced = trace && (timed % 4 == 1 || timed % 4 == 2)
      tracer.setEnabled(rec.traced)
      timedCycle(loop, rec, samples)
      cycles += rec
    }
    tracer.setEnabled(false)

    System.err.println(f"perfbench: set-up $setupS%.3f s, CPU $setupCpuS%.3f s; checking")
    val check = try CdcCheck(spark, loop, cycles.toSeq, gen.expectDone, inject)
    catch {
      case e: Exception => CdcCheck.Result(cycles.map(_.index).toSet, globalOk = false,
        Seq(s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }
    val attempted = cycles.size + 1L
    val failed = check.failedCycles.size + (if (check.globalOk) 0 else 1)
    val incr = cycles.drop(1).toSeq
    val metrics =
      if (!trace) Seq(
        ("setup_s", setupCpuS, "s"),
        ("op_cpu_s", incr.map(_.cpuSeconds).sum / incr.size, "s"),
        ("rows_per_cpu_s", backfill.inputs.size / backfill.cpuSeconds, "1/s"))
      else layerMetrics(loop, backfill, samples.toSeq, incr) ++ Seq(
        ("wall.setup_s", setupS, "s"),
        ("wall.op_s", median(incr.filterNot(_.traced).map(_.seconds)), "s"),
        ("wall.rows_per_s", backfill.inputs.size / backfill.seconds, "1/s"))
    Outcome(failed == 0, attempted, failed, metrics, check.notes)
  }

  private def layerMetrics(loop: CdcLoop, backfill: CycleRec, samples: Seq[LayerSample],
      timed: Seq[CycleRec]): Seq[(String, Double, String)] = {
    val bySpan = tracer.jobsBySpan()
    def cycleSpan(i: Int) = tracer.spans.find(s => s.name == "cycle" && s.cycle == i)
    val cycleSpans = samples.flatMap(s => cycleSpan(s.rec.index))
    def child(c: Span, name: String): Span =
      tracer.spans.find(s => s.parent == c.id && s.name == name).get
    def perCycle(f: Span => Double): Double = median(cycleSpans.map(f))
    def jobsOf(s: Span) = tracer.jobsUnder(s.id, bySpan)
    def busy(s: Span) = jobsOf(s).map(_.runMs).sum / 1e3 / (s.seconds * Main.Cores)
    def inputRows(c: Span) = jobsOf(child(c, "etl.run")).map(_.inputRows).sum.toDouble
    def layer(prefix: String, span: String): Seq[(String, Double, String)] = Seq(
      (s"$prefix.s", perCycle(c => child(c, span).seconds), "s"),
      (s"$prefix.jobs", perCycle(c => jobsOf(child(c, span)).size.toDouble), "count"),
      (s"$prefix.tasks", perCycle(c => jobsOf(child(c, span)).map(_.tasks).sum.toDouble), "count"),
      (s"$prefix.busy_frac", perCycle(c => busy(child(c, span))), "frac"))
    val etl = layer("etl.run", "etl.run") ++ Seq(
      ("etl.pipeline_open.s", perCycle(c => child(c, "etl.pipeline_open").seconds), "s"),
      ("etl.run.input_rows", perCycle(inputRows), "rows"),
      ("etl.run.rows_out", median(samples.map(_.rec.rowsOut.toDouble)), "rows"),
      ("etl.run.shuffle_mb",
        perCycle(c => jobsOf(child(c, "etl.run")).map(_.shuffleBytes).sum / 1e6), "MB"))
    val lakeJobs = (c: Span) => jobsOf(c).filter(_.module == "lake")
    val traced = timed.filter(_.traced).map(_.seconds)
    val untraced = timed.filterNot(_.traced).map(_.seconds)
    val coverage = cycleSpans.map(c => 1.0 - tracer.selfSeconds(c) / c.seconds)
    val bf = cycleSpan(backfill.index).get
    // ETL input rows per input record of a cycle over the backfilled
    // history against those of the backfill, over empty pools
    val growth = median(samples.flatMap(s => cycleSpan(s.rec.index)
      .map(inputRows(_) / s.rec.inputs.size))) / (inputRows(bf) / backfill.inputs.size)
    val (jsonRps, avroRps) = codecRates(loop)
    etl ++
      layer("streaming.from_kafka", "streaming.from_kafka") ++
      layer("streaming.to_kafka", "streaming.to_kafka") ++ Seq(
        ("backfill.from_kafka.s", child(bf, "streaming.from_kafka").seconds, "s"),
        ("backfill.etl.run.s", child(bf, "etl.run").seconds, "s"),
        ("backfill.to_kafka.s", child(bf, "streaming.to_kafka").seconds, "s"),
        ("streaming.bus.read_s", median(samples.map(_.busRead)), "s"),
        ("streaming.bus.write_s", median(samples.map(_.busWrite)), "s"),
        ("streaming.bus.writes", median(samples.map(_.busWrites.toDouble)), "count"),
        ("codecs.connectjson_decode_rps", jsonRps, "1/s"),
        ("codecs.avro_encode_rps", avroRps, "1/s"),
        ("lake.jobs", perCycle(c => lakeJobs(c).size.toDouble), "count"),
        ("lake.job_s", perCycle(c => lakeJobs(c).map(_.seconds).sum), "s"),
        ("lake.next_offsets.s", median(samples.map(_.nextOffsets)), "s"),
        ("lake.commits", median(samples.map(_.commits.toDouble)), "count"),
        ("lake.bytes_per_input_byte", median(samples.map(_.bytesRatio)), "ratio"),
        ("cycle_growth", growth, "ratio"),
        ("driver_gap.s", perCycle(c => tracer.selfSeconds(c)), "s"),
        ("jvm.heap_peak_mb", Stats.heapPeakMb(), "MB"),
        ("trace.coverage_min", if (coverage.isEmpty) Double.NaN else coverage.min, "frac"),
        ("trace.overhead_s", median(traced) - median(untraced), "s"))
  }

  /** Codec throughput on the run's own bytes: the published Connect-JSON
    * values decoded, and the `Staging` values Avro-encoded, each over
    * `codecRows` rows into a noop sink; median of three passes.
    */
  private def codecRates(loop: CdcLoop): (Double, Double) = {
    import spark.implicits._
    def rate(df: org.apache.spark.sql.DataFrame, rows: Long): Double = median((1 to 3).map { _ =>
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      rows / ((System.nanoTime() - t) / 1e9)
    })
    val values = loop.bus.inner.readBatch(spark, CdcLoop.Inputs, Map.empty)
      .select("value").as[Array[Byte]].collect()
    val n = size.codecRows
    val json = Iterator.continually(values).flatten.take(n).toSeq.toDF("value").cache()
    json.count()
    val jsonRps = rate(json.select(
      ConnectJson.decode(col("value").cast("string"), CdcGen.valueSchema).as("v")), n)
    json.unpersist()
    val avroRps = loop.staging.map { st =>
      val all = st.read()
      val valueT = all.schema("value").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      val rows = all.filter(col(Compiler.TypeCol).isNull).select("value").collect().toSeq
      val src = spark.createDataFrame(spark.sparkContext.parallelize(
        Iterator.continually(rows).flatten.take(n).toSeq, Main.Cores),
        all.select("value").schema).cache()
      src.count()
      val r = rate(src.select(ZAvro.encodeColumn(col("value"), valueT,
        CdcLoop.Namespace, loop.registry).as("b")), n)
      src.unpersist()
      r
    }.getOrElse(Double.NaN)
    (jsonRps, avroRps)
  }
}

object CdcBench {
  /** Names and units of what [[CdcBench]] reports in a traced run that
    * the gates workload does not.
    */
  val LayerMetrics: Seq[(String, String)] =
    Seq("etl.run.s" -> "s", "etl.run.jobs" -> "count", "etl.run.tasks" -> "count",
      "etl.run.busy_frac" -> "frac", "etl.pipeline_open.s" -> "s",
      "etl.run.input_rows" -> "rows", "etl.run.rows_out" -> "rows",
      "etl.run.shuffle_mb" -> "MB") ++
    Seq("streaming.from_kafka", "streaming.to_kafka").flatMap(p => Seq(
      s"$p.s" -> "s", s"$p.jobs" -> "count", s"$p.tasks" -> "count", s"$p.busy_frac" -> "frac")) ++
    Seq("backfill.from_kafka.s" -> "s", "backfill.etl.run.s" -> "s",
      "backfill.to_kafka.s" -> "s", "streaming.bus.read_s" -> "s",
      "streaming.bus.write_s" -> "s", "streaming.bus.writes" -> "count",
      "codecs.connectjson_decode_rps" -> "1/s", "codecs.avro_encode_rps" -> "1/s",
      "lake.jobs" -> "count", "lake.job_s" -> "s", "lake.next_offsets.s" -> "s",
      "lake.commits" -> "count", "lake.bytes_per_input_byte" -> "ratio",
      "cycle_growth" -> "ratio")
}
