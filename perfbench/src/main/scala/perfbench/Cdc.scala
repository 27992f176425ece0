package perfbench

import graft.codecs.{InMemorySchemaRegistry, ZAvro}
import graft.etl.{Compiler, Pipeline, Transform}
import graft.lake.Pool
import graft.streaming.{ConnectJsonCodec, FromKafka, MemoryBus, RegistryAvroCodec, ToKafka}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.collection.mutable

/** A message as published: topic plus its Connect-JSON key and value bytes. */
final case class Wire(topic: String, offset: Long, key: Array[Byte], value: Array[Byte]) {
  def bytes: Long = key.length.toLong + value.length
}

object Wire {
  def of(msgs: Seq[Msg]): Seq[Wire] = msgs.map(m => Wire(m.topic, m.offset, m.key, m.value))
}

/** What one cycle of the loop was given, expected and did. */
final class CycleRec(val index: Int, val inputs: Seq[Wire], val expected: Seq[Out]) {
  var seconds = 0.0
  var cpuSeconds = 0.0
  var producedFrom = 0L
  var produced = 0L
  var rowsOut = 0L
  var error: Option[String] = None
  var traced = false
}

/** The zync loop over one lake root and one bus: publish a Debezium batch,
  * sync it Kafka → `Raw`, run the invoices.yaml pipeline `Raw` → `Staging`,
  * and produce `NewInvoices` with the registry-Avro codec. Every call goes
  * through the system's public entry points and is timed as a span.
  */
final class CdcLoop(spark: SparkSession, val root: String, tracer: Tracer) {
  val bus = new CountingBus(new MemoryBus)
  val registry = new InMemorySchemaRegistry
  private val from = new FromKafka(bus, new ConnectJsonCodec(CdcGen.keySchema),
    new ConnectJsonCodec(CdcGen.valueSchema))
  private val transform = Transform.fromYaml(CdcGen.invoicesYaml)
  val raw: Pool = Pool.create(spark, root, "Raw")
  var staging: Option[Pool] = None
  private var producedTotal = 0L

  def run(rec: CycleRec): Unit = {
    val t0 = System.nanoTime()
    val cpu0 = Stats.cpuNs()
    try tracer.span("cycle") {
      tracer.span("publish")(rec.inputs.foreach(w => bus.inner.publish(w.topic, w.key, w.value)))
      tracer.span("streaming.from_kafka")(from.syncOnce(spark, CdcLoop.Inputs, raw))
      val p = tracer.span("etl.pipeline_open")(new Pipeline(spark, transform, root))
      rec.rowsOut = tracer.span("etl.run")(p.run())
      staging = Some(p.outputPool)
      rec.producedFrom = producedTotal
      rec.produced = tracer.span("streaming.to_kafka")(produce(p.outputPool))
      producedTotal += rec.produced
    } catch {
      case e: Exception =>
        rec.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    rec.seconds = (System.nanoTime() - t0) / 1e9
    rec.cpuSeconds = (Stats.cpuNs() - cpu0) / 1e9
    val parts = tracer.spans.reverseIterator.takeWhile(_.name != "cycle").toSeq.reverse
      .map(s => f"${s.name} ${s.seconds}%.2f").mkString(", ")
    System.err.println(f"perfbench: cycle ${rec.index} of ${rec.inputs.size} records " +
      f"took ${rec.seconds}%.3f s, CPU ${rec.cpuSeconds}%.3f s ($parts)")
  }

  /** The to-kafka command's produce: codecs derived from the pool schema. */
  private def produce(pool: Pool): Long = {
    val schema = pool.read().schema
    if (schema.isEmpty) 0L
    else {
      def codec(f: String) = new RegistryAvroCodec(
        schema(f).dataType.asInstanceOf[StructType], CdcLoop.Namespace, registry)
      new ToKafka(bus, codec("key"), codec("value"))
        .syncOnce(spark, pool, CdcLoop.OutTopic)
    }
  }

  /** Bytes under the two pools' directories. */
  def poolBytes(): Long = Seq("Raw", "Staging").map { p =>
    val dir = java.nio.file.Paths.get(root, p)
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }.sum

  def commits(): Long = raw.commits().size.toLong + staging.fold(0L)(_.commits().size.toLong)
}

object CdcLoop {
  val Inputs = Seq("Invoices", "InvoiceStatus")
  val OutTopic = "NewInvoices"
  val Namespace = "perfbench"
}

/** Output checks over a finished loop. A cycle fails when it threw, when
  * the records it produced do not equal the generator's model as a
  * multiset, or when one of its inputs has other than the expected number
  * of done records in `Staging` (one once resolvable, zero while its join
  * partner is unpublished). The run-wide check fails when `NewInvoices`
  * offsets in `Staging` are not dense from 0 or disagree with the bus.
  */
object CdcCheck {
  final case class Result(failedCycles: Set[Int], globalOk: Boolean, notes: Seq[String])

  def apply(spark: SparkSession, loop: CdcLoop, cycles: Seq[CycleRec],
      expectDone: collection.Set[(String, Long)], inject: String): Result = {
    val notes = mutable.ArrayBuffer.empty[String]
    val failed = mutable.Set.empty[Int]
    cycles.filter(_.error.nonEmpty).foreach { c =>
      failed += c.index; notes += s"cycle ${c.index}: ${c.error.get}"
    }
    val staging = loop.staging.getOrElse(return Result(cycles.map(_.index).toSet,
      globalOk = false, notes.toSeq :+ "no Staging pool"))
    val all = staging.read()

    // done records per input (topic, offset)
    var done: Map[(String, Long), Long] = all.filter(col(Compiler.TypeCol) === Compiler.Done)
      .groupBy(col("kafka.topic"), col("kafka.offset")).count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    if (inject == "drop_done") {
      val victim = cycles.last.inputs.map(w => (w.topic, w.offset)).find(expectDone.contains)
      victim.foreach(v => done -= v)
    }
    val published = cycles.flatMap(_.inputs.map(w => (w.topic, w.offset))).toSet
    cycles.foreach { c =>
      val bad = c.inputs.map(w => (w.topic, w.offset)).filter { k =>
        done.getOrElse(k, 0L) != (if (expectDone.contains(k)) 1L else 0L)
      }
      if (bad.nonEmpty) {
        failed += c.index
        notes += s"cycle ${c.index}: ${bad.size} inputs with a wrong done count, e.g. ${bad.head}"
      }
    }
    val stray = done.keySet.diff(published)
    if (stray.nonEmpty) notes += s"${stray.size} done records for unpublished inputs"

    // NewInvoices offsets: dense from 0 in Staging, and all on the bus
    val busEnd = loop.bus.inner.endOffsets(Seq(CdcLoop.OutTopic))(CdcLoop.OutTopic)
    val offs = all.filter(col(Compiler.TypeCol).isNull &&
        col("kafka.topic") === CdcLoop.OutTopic)
      .select(col("kafka.offset")).collect().map(_.getLong(0)).sorted
    val dense = offs.toSeq == (0L until offs.length.toLong) && offs.length.toLong == busEnd
    if (!dense) notes += s"NewInvoices offsets not dense or not all produced " +
      s"(${offs.length} in Staging, bus end $busEnd)"

    // decode every produced message and compare each cycle with the model
    val got = decodeOutputs(spark, loop, all.schema, inject)
    cycles.filter(_.error.isEmpty).foreach { c =>
      val mine = (c.producedFrom until c.producedFrom + c.produced)
        .map(o => got.getOrElse(o, Out(-1L, Some(Nil))))
      if (multiset(mine) != multiset(c.expected)) {
        failed += c.index
        notes += s"cycle ${c.index}: produced ${mine.size} records, model " +
          s"${c.expected.size}; first difference " +
          (multiset(mine).toSet diff multiset(c.expected).toSet).headOption.getOrElse("-")
      }
    }
    Result(failed.toSet, dense && stray.isEmpty, notes.toSeq)
  }

  private def multiset(xs: Seq[Out]): Map[Out, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  /** Offset → decoded record of every `NewInvoices` message on the bus, via
    * the registry-Avro codec. `corrupt_msg` swaps one message's value for
    * its predecessor's before decoding.
    */
  private def decodeOutputs(spark: SparkSession, loop: CdcLoop, schema: StructType,
      inject: String): Map[Long, Out] = {
    val keyT = schema("key").dataType.asInstanceOf[StructType]
    val valueT = schema("value").dataType.asInstanceOf[StructType]
    var msgs = loop.bus.inner.readBatch(spark, Seq(CdcLoop.OutTopic), Map.empty)
      .select("offset", "key", "value").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)))
    if (inject == "corrupt_msg") {
      val i = msgs.indices.drop(1).find(i =>
        msgs(i)._3 != null && msgs(i - 1)._3 != null &&
          !java.util.Arrays.equals(msgs(i)._3, msgs(i - 1)._3))
      i.foreach(i => msgs = msgs.updated(i, msgs(i).copy(_3 = msgs(i - 1)._3)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      msgs.toSeq.map { case (o, k, v) => Row(o, k, v) }, 4),
      StructType(Seq(StructField("offset", LongType), StructField("key", BinaryType),
        StructField("value", BinaryType))))
    val dec = df.select(col("offset"),
      ZAvro.decodeColumn(col("key"), keyT, loop.registry).as("k"),
      ZAvro.decodeColumn(col("value"), valueT, loop.registry).as("v"))
    dec.collect().map { r =>
      val k = r.getStruct(1)
      val v = Option(r.getStruct(2)).map { v =>
        Out.Fields.map(f => if (v.schema.fieldNames.contains(f) && !v.isNullAt(v.fieldIndex(f)))
          Some(v.get(v.fieldIndex(f)).toString) else None)
      }
      r.getLong(0) -> Out(if (k == null || k.isNullAt(0)) -1L else k.getLong(0), v)
    }.toMap
  }
}
