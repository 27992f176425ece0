package perfbench

import graft.{GQuery, Registry, SparkEntry}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The `gates` workload: the 16 headline `Registry` gates over tables
  * generated from the seed, each written to a `noop` sink, timed one pass
  * over all 16 at a time.
  *
  * Set-up generates the tables and runs one untimed check pass that writes
  * every gate's result as parquet next to the oracle SQL
  * (`check/<gate>/`, `check/oracle_sql.json`); `run.py` compares them with
  * DuckDB after the JVM has exited, the way `tools/check_oracle.py` does.
  * The check pass also warms the JVM up, so timed passes start warm.
  */
final class GatesBench(spark: SparkSession, tracer: Tracer, work: Path, scale: Double,
    seed: Long, seconds: Double, trace: Boolean) {
  import Stats.median

  import GatesBench.gates
  private val gen = new GatesGen(seed, scale)
  private val tables = work.resolve("tables").toString
  def describe: String = gen.describe

  /** One gate's timing in one pass; `planS` covers building the DataFrame
    * and planning it, `seconds` that plus executing it into the sink.
    */
  private final case class GateRun(gate: String, seconds: Double, planS: Double,
      span: Int, error: Option[String])

  /** One timed pass over the 16 gates: wall and JVM CPU seconds. */
  private final case class Pass(seconds: Double, cpuSeconds: Double, runs: Seq[GateRun],
      traced: Boolean)

  private def runGate(q: GQuery): GateRun = {
    val t0 = System.nanoTime()
    var planS = 0.0
    var spanId = -1
    try tracer.span(s"gates.${q.name}") {
      spanId = tracer.spans.last.id
      val df = q.run(spark, tables)
      df.queryExecution.executedPlan
      planS = (System.nanoTime() - t0) / 1e9
      df.write.format("noop").mode("overwrite").save()
      GateRun(q.name, (System.nanoTime() - t0) / 1e9, planS, spanId, None)
    } catch {
      case e: Exception => GateRun(q.name, (System.nanoTime() - t0) / 1e9, planS, spanId,
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }
  }

  def run(startNs: Long, inject: String): Outcome = {
    Files.createDirectories(work)
    val g0 = System.nanoTime()
    gen.write(spark, tables, Main.Cores)
    val c0 = System.nanoTime()
    // the check pass: every gate's result as parquet for the oracle
    // compare. It runs the gates on `Cores` threads: it is also the cold
    // pass (JVM and code generation), which alone would take half a run.
    val check = work.resolve("check")
    Files.createDirectories(check)
    val notes = mutable.ArrayBuffer.empty[String]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    val errors = try gates.map { q =>
      pool.submit(() => try {
        val df = q.run(spark, tables)
        val out = if (inject == "corrupt_gate" && q == gates.head) df.limit(math.max(0,
          df.count().toInt - 1)) else df
        out.repartition(Main.Cores).write.mode("overwrite").parquet(check.resolve(q.name).toString)
        None
      } catch {
        case e: Exception =>
          Some(s"${q.name} check pass: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      })
    }.flatMap(_.get()) finally pool.shutdown()
    notes ++= errors
    var failed = errors.size.toLong
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => gates.exists(_.name == k) }
    Files.writeString(check.resolve("oracle_sql.json"), oracle.toSeq.sortBy(_._1).map {
      case (k, v) => "\"" + k + "\": \"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",\n", "}\n"))
    println(s"ORACLE $tables $check")
    val setupS = (System.nanoTime() - startNs) / 1e9
    val setupCpuS = Stats.cpuNs() / 1e9
    System.err.println(f"perfbench: tables ${(c0 - g0) / 1e9}%.3f s, check pass " +
      f"${(System.nanoTime() - c0) / 1e9}%.3f s; set-up $setupS%.3f s, CPU $setupCpuS%.3f s")

    val passes = mutable.ArrayBuffer.empty[Pass]
    val m0 = System.nanoTime()
    while (passes.size < (if (trace) 4 else Main.MinOps) ||
        (System.nanoTime() - m0) / 1e9 < seconds) {
      val traced = trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      tracer.setEnabled(traced)
      tracer.cycle = passes.size
      val (t, cpu0) = (System.nanoTime(), Stats.cpuNs())
      val runs = tracer.span("pass")(gates.map(runGate))
      tracer.cycle = -1
      passes += Pass((System.nanoTime() - t) / 1e9, (Stats.cpuNs() - cpu0) / 1e9, runs, traced)
      System.err.println(f"perfbench: gates pass ${passes.size} took " +
        f"${passes.last.seconds}%.3f s, CPU ${passes.last.cpuSeconds}%.3f s")
    }
    tracer.setEnabled(false)
    passes.flatMap(_.runs).filter(_.error.nonEmpty).foreach { r =>
      failed += 1; notes += s"${r.gate}: ${r.error.get}"
    }
    val attempted = passes.size.toLong * gates.size + gates.size
    val rows = gen.rowsOf.values.sum.toDouble
    val metrics =
      if (!trace) {
        val cpuS = passes.map(_.cpuSeconds).sum / passes.size
        Seq(("setup_s", setupCpuS, "s"), ("op_cpu_s", cpuS, "s"),
          ("rows_per_cpu_s", rows / cpuS, "1/s"))
      } else {
        val wallS = median(passes.filterNot(_.traced).map(_.seconds).toSeq)
        layerMetrics(passes.toSeq) ++ Seq(("wall.setup_s", setupS, "s"),
          ("wall.op_s", wallS, "s"), ("wall.rows_per_s", rows / wallS, "1/s"))
      }
    Outcome(failed == 0, attempted, failed, metrics, notes.toSeq)
  }

  private def layerMetrics(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val bySpan = tracer.jobsBySpan()
    val traced = passes.filter(_.traced)
    def per(gate: String)(f: GateRun => Double): Double =
      median(traced.flatMap(_.runs.filter(_.gate == gate)).map(f))
    def jobs(r: GateRun) = tracer.jobsUnder(r.span, bySpan)
    val passSpans = tracer.spans.filter(s => s.name == "pass" &&
      traced.exists(_.runs.headOption.exists(r => tracer.spans(r.span).parent == s.id))).toSeq
    gates.flatMap { q =>
      Seq((s"gates.${q.name}.s", per(q.name)(_.seconds), "s"),
        (s"gates.${q.name}.plan_s", per(q.name)(_.planS), "s"),
        (s"gates.${q.name}.tasks", per(q.name)(r => jobs(r).map(_.tasks).sum.toDouble), "count"),
        (s"gates.${q.name}.shuffle_mb",
          per(q.name)(r => jobs(r).map(_.shuffleBytes).sum / 1e6), "MB"))
    } ++ Seq(
      ("gates.spill_mb", median(traced.map(_.runs.flatMap(jobs).map(_.spillBytes).sum / 1e6)), "MB"),
      ("gates.peak_exec_mem_mb",
        traced.flatMap(_.runs.flatMap(jobs).map(_.peakExecMem)).maxOption.getOrElse(0L) / 1e6, "MB"),
      ("driver_gap.s", median(passSpans.map(tracer.selfSeconds)), "s"),
      ("trace.coverage_min", passSpans.map(p => 1.0 - tracer.selfSeconds(p) / p.seconds)
        .minOption.getOrElse(Double.NaN), "frac"),
      ("trace.overhead_s", median(traced.map(_.seconds)) -
        median(passes.filterNot(_.traced).map(_.seconds)), "s"),
      ("jvm.heap_peak_mb", Stats.heapPeakMb(), "MB"))
  }
}

object GatesBench {
  lazy val gates: Seq[GQuery] = Registry.all.filter(_.headline)

  /** Names and units of what [[GatesBench]] reports in a traced run that
    * the CDC workload does not.
    */
  def layerMetrics: Seq[(String, String)] =
    gates.flatMap(q => Seq(s"gates.${q.name}.s" -> "s", s"gates.${q.name}.plan_s" -> "s",
      s"gates.${q.name}.tasks" -> "count", s"gates.${q.name}.shuffle_mb" -> "MB")) ++
      Seq("gates.spill_mb" -> "MB", "gates.peak_exec_mem_mb" -> "MB")
}
