package perfbench

import graft.codecs.ConnectJson
import org.apache.spark.sql.types._
import scala.collection.mutable

/** One row image of the fused Debezium record both CDC topics carry. */
final case class Rec(id: Long, customer: String, item: String,
    invoiceId: Option[Long], status: String)

/** One CDC message: a Debezium envelope on `Invoices` or `InvoiceStatus`. */
final case class Msg(topic: String, offset: Long, keyId: Long, op: String,
    before: Option[Rec], after: Option[Rec]) {
  def key: Array[Byte] = CdcGen.connectMsg(CdcGen.keySchemaJson, s"""{"ID":$keyId}""")
  def value: Array[Byte] = CdcGen.connectMsg(CdcGen.valueSchemaJson,
    s"""{"op":"$op","before":${CdcGen.recJson(before)},"after":${CdcGen.recJson(after)}}""")
}

/** One record of `NewInvoices` in comparable form. `value == None` is the
  * delete rule's null value; absent fields are None.
  */
final case class Out(keyId: Long, value: Option[Seq[Option[String]]])

object Out {
  /** Field order of the comparable value: the union of what the four
    * invoices.yaml rules emit.
    */
  val Fields: Seq[String] = Seq("ID", "customer", "item", "invoice_status",
    "InvoiceID", "status")

  def of(keyId: Long, fields: (String, Any)*): Out = {
    val m = fields.toMap
    Out(keyId, Some(Fields.map(f => m.get(f).flatMap(Option(_)).map(_.toString))))
  }
}

/** Seeded generator of Debezium change batches for the invoices.yaml demo,
  * with its own model of what the four rules must produce.
  *
  * Properties (recorded with every result, see `describe`):
  *  - every new invoice gets exactly one status row, created with op `c`
  *    (`r` in the snapshot cycle); `earlyShare` of status rows are published
  *    one cycle before their invoice and `lateShare` one cycle after it, so
  *    the denorm join resolves across cycles;
  *  - status updates pick their invoice by a Zipf(`zipfS`) rank over the
  *    invoices whose status row is published (oldest = hottest);
  *  - invoice updates and deletes pick uniformly among live invoices
  *    created in an earlier cycle; status rows are never deleted (no rule
  *    consumes a status delete, so it would never be marked done).
  */
final class CdcGen(seed: Long, batch: Int, mix: CdcGen.Mix = CdcGen.Mix.Default) {
  import mix._

  private val rnd = new scala.util.Random(seed)
  private val offsets = mutable.Map("Invoices" -> 0L, "InvoiceStatus" -> 0L)
  private var nextInvoice = 1000L
  private var nextStatus = 1L
  private var cycleNo = 0

  private val live = mutable.LinkedHashMap.empty[Long, Rec]
  // status rows whose `c` is published, in publication order (Zipf rank)
  private val statusRows = mutable.ArrayBuffer.empty[Rec]
  // invoice id -> (Invoices offset, its `c` rec) until joined, and the
  // status rows waiting for their invoice
  private val waitingInvoice = mutable.Map.empty[Long, (Long, Rec)]
  private val waitingStatus = mutable.Map.empty[Long, (Long, Rec)]
  private var earlyNext = Seq.empty[Long]
  private var lateNext = Seq.empty[Long]

  /** Every (topic, offset) that must carry exactly one done record; the
    * rest are waiting for their join partner and must carry none.
    */
  val expectDone = mutable.Set.empty[(String, Long)]

  private val customers = Seq("Alice", "Bob", "Charlie", "Dan", "Erin", "Frank",
    "Grace", "Heidi", "Ivan", "Judy", "Mallory", "Niaj", "Olivia", "Peggy")
  private val items = Seq("taco", "burrito", "enchilada", "beans", "salsa",
    "tamale", "quesadilla", "churro", "horchata", "nachos")
  private val statuses = Seq("paid", "closed", "collections", "refunded", "pending")

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  private def emit(buf: mutable.ArrayBuffer[Msg], topic: String, keyId: Long,
      op: String, before: Option[Rec], after: Option[Rec]): Long = {
    val off = offsets(topic)
    offsets(topic) = off + 1
    buf += Msg(topic, off, keyId, op, before, after)
    off
  }

  private def joined(out: mutable.ArrayBuffer[Out], inv: Rec, invOff: Long,
      st: Rec, stOff: Long): Unit = {
    out += Out.of(inv.id, "ID" -> inv.id, "customer" -> inv.customer,
      "item" -> inv.item, "invoice_status" -> st.status)
    expectDone += (("Invoices", invOff)) += (("InvoiceStatus", stOff))
  }

  private def publishStatus(buf: mutable.ArrayBuffer[Msg],
      out: mutable.ArrayBuffer[Out], invoiceId: Long, op: String): Unit = {
    val st = Rec(nextStatus, null, null, Some(invoiceId), "pending")
    nextStatus += 1
    val off = emit(buf, "InvoiceStatus", st.id, op, None, Some(st))
    statusRows += st
    waitingInvoice.remove(invoiceId) match {
      case Some((invOff, inv)) => joined(out, inv, invOff, st, off)
      case None => waitingStatus(invoiceId) = (off, st)
    }
  }

  // truncated harmonic CDF of the Zipf ranks, extended as rows arrive
  private val zipfCdf = mutable.ArrayBuffer.empty[Double]

  /** Zipf rank in [0, n) by inversion of the truncated harmonic CDF. */
  private def zipfRank(n: Int): Int = {
    while (zipfCdf.size < n)
      zipfCdf += zipfCdf.lastOption.getOrElse(0.0) +
        1.0 / math.pow(zipfCdf.size + 1.0, zipfS)
    val u = rnd.nextDouble() * zipfCdf(n - 1)
    val j = zipfCdf.view.slice(0, n).search(u).insertionPoint
    math.min(j, n - 1)
  }

  /** The next cycle's messages and the `NewInvoices` records the rules
    * must produce for it.
    */
  def nextCycle(): (Seq[Msg], Seq[Out]) = {
    val buf = mutable.ArrayBuffer.empty[Msg]
    val out = mutable.ArrayBuffer.empty[Out]
    val op = if (cycleNo == 0) "r" else "c"
    val nNew = math.max(1, math.round(batch * newShare / 2).toInt)
    val older = live.keys.toIndexedSeq

    // status rows held back from the previous cycle's invoices
    lateNext.foreach(id => publishStatus(buf, out, id, "c"))
    val ids = (0 until nNew).map(_ => { nextInvoice += 1; nextInvoice - 1 })
    val (late, rest) = ids.filterNot(earlyNext.contains)
      .partition(_ => rnd.nextDouble() < lateShare)
    ids.foreach { id =>
      val inv = Rec(id, pick(customers), pick(items), None, null)
      live(id) = inv
      val off = emit(buf, "Invoices", id, op, None, Some(inv))
      waitingStatus.remove(id) match {
        case Some((stOff, st)) => joined(out, inv, off, st, stOff)
        case None => waitingInvoice(id) = (off, inv)
      }
    }
    rest.foreach(id => publishStatus(buf, out, id, op))
    lateNext = late
    // status rows published ahead of the next cycle's invoices
    val early = (0 until nNew).filter(_ => rnd.nextDouble() < earlyShare)
      .map(nextInvoice + _)
    early.foreach(id => publishStatus(buf, out, id, "c"))
    earlyNext = early

    if (statusRows.nonEmpty) (0 until math.round(batch * statusUpdateShare).toInt)
      .foreach { _ =>
        val i = zipfRank(statusRows.size)
        val before = statusRows(i)
        val after = before.copy(status = pick(statuses))
        statusRows(i) = after
        val off = emit(buf, "InvoiceStatus", after.id, "u", Some(before), Some(after))
        expectDone += (("InvoiceStatus", off))
        out += Out.of(after.invoiceId.get, "ID" -> after.invoiceId.get,
          "invoice_status" -> after.status)
      }
    val alive = mutable.ArrayBuffer.from(older.filter(live.contains))
    (0 until math.round(batch * invoiceUpdateShare).toInt).foreach { _ =>
      if (alive.nonEmpty) {
        val id = alive(rnd.nextInt(alive.size))
        val before = live(id)
        val after = before.copy(customer = pick(customers), item = pick(items))
        live(id) = after
        val off = emit(buf, "Invoices", id, "u", Some(before), Some(after))
        expectDone += (("Invoices", off))
        out += Out.of(id, "ID" -> id, "customer" -> after.customer,
          "item" -> after.item)
      }
    }
    (0 until math.round(batch * deleteShare).toInt).foreach { _ =>
      if (alive.nonEmpty) {
        val id = alive.remove(rnd.nextInt(alive.size))
        val before = live.remove(id).get
        val off = emit(buf, "Invoices", id, "d", Some(before), None)
        expectDone += (("Invoices", off))
        out += Out(id, None)
      }
    }
    cycleNo += 1
    (buf.toSeq, out.toSeq)
  }

  def describe: String =
    f"seed=$seed batch=$batch new=$newShare%.2f status_u=$statusUpdateShare%.2f " +
      f"invoice_u=$invoiceUpdateShare%.2f invoice_d=$deleteShare%.2f " +
      f"status_early=$earlyShare%.2f status_late=$lateShare%.2f zipf_s=$zipfS%.2f " +
      s"mix=${mix.name}" + (if (mix != CdcGen.Mix.Default) "" else
        " (creates:status_u after the reference demo's 2:1; invoice_u, invoice_d, " +
          "early/late shares and zipf_s assumed)")
}

object CdcGen {
  /** Shares of a batch: new invoices and their status rows (half each),
    * status updates, invoice updates, invoice deletes; status rows
    * published a cycle early / late; Zipf exponent of status-update keys.
    */
  final case class Mix(name: String, newShare: Double, statusUpdateShare: Double,
      invoiceUpdateShare: Double, deleteShare: Double, earlyShare: Double,
      lateShare: Double, zipfS: Double)

  object Mix {
    /** The reference demo (demo/batch-1..4, copied in `EtlDemoSpec`) has 8
      * creates (4 invoices, 4 status rows) to 4 status updates, and 1 of
      * its 4 status rows arrives a batch after its invoice. `Default`
      * keeps creates : status updates near that 2 : 1; the invoice update
      * and delete shares, the early/late shares and the Zipf skew are
      * assumptions (the demo has no invoice updates or deletes and never
      * updates a row twice), chosen so all four rules fire every cycle.
      */
    val Default = Mix("default", newShare = 0.50, statusUpdateShare = 0.30,
      invoiceUpdateShare = 0.13, deleteShare = 0.07, earlyShare = 0.10,
      lateShare = 0.10, zipfS = 1.1)
    /** A second mix for checking that the end-to-end metrics do not hinge
      * on the assumed values: fewer updates and deletes, more creates,
      * more late status rows, milder skew.
      */
    val Alt = Mix("alt", newShare = 0.70, statusUpdateShare = 0.20,
      invoiceUpdateShare = 0.07, deleteShare = 0.03, earlyShare = 0.05,
      lateShare = 0.25, zipfS = 0.8)
    val byName: Map[String, Mix] = Seq(Default, Alt).map(m => m.name -> m).toMap
  }

  val recType: StructType = StructType(Seq(
    StructField("ID", LongType), StructField("customer", StringType),
    StructField("item", StringType), StructField("InvoiceID", LongType),
    StructField("status", StringType)))
  val keySchema: StructType = StructType(Seq(StructField("ID", LongType)))
  val valueSchema: StructType = StructType(Seq(
    StructField("op", StringType), StructField("before", recType),
    StructField("after", recType)))

  lazy val keySchemaJson: String = ConnectJson.schemaJson(keySchema)
  lazy val valueSchemaJson: String = ConnectJson.schemaJson(valueSchema)

  def connectMsg(schemaJson: String, payload: String): Array[Byte] =
    s"""{"schema":$schemaJson,"payload":$payload}""".getBytes("UTF-8")

  private def str(s: String): String = if (s == null) "null" else "\"" + s + "\""

  def recJson(r: Option[Rec]): String = r.fold("null") { r =>
    s"""{"ID":${r.id},"customer":${str(r.customer)},"item":${str(r.item)},""" +
      s""""InvoiceID":${r.invoiceId.fold("null")(_.toString)},"status":${str(r.status)}}"""
  }

  /** The reference's etl-demo transform (demo/invoices.yaml), all four rules. */
  val invoicesYaml: String =
    """inputs:
      |  - topic: Invoices
      |    pool: Raw
      |  - topic: InvoiceStatus
      |    pool: Raw
      |output:
      |  topic: NewInvoices
      |  pool: Staging
      |transforms:
      |  - type: denorm
      |    where: value.op in ["c", "r"]
      |    left: Invoices
      |    right: InvoiceStatus
      |    join-on: left.value.after.ID=right.value.after.InvoiceID
      |    out: NewInvoices
      |    zed: |
      |      | out:={
      |          key: left.key,
      |          value: {
      |            ID: left.value.after.ID,
      |            customer: left.value.after.customer,
      |            item: left.value.after.item,
      |            invoice_status: right.value.after.status
      |          }
      |        }
      |  - type: stateless
      |    where: value.op=="u"
      |    in: InvoiceStatus
      |    out: NewInvoices
      |    zed: |
      |      | out:={
      |          key: {
      |            ID: in.value.after.InvoiceID
      |          },
      |          value: {
      |            ID: in.value.after.InvoiceID,
      |            invoice_status: in.value.after.status
      |          }
      |        }
      |  - type: stateless
      |    where: value.op=="u"
      |    in: Invoices
      |    out: NewInvoices
      |    zed: |
      |      | out:={
      |          key: in.key,
      |          value: in.value.after
      |        }
      |  - type: stateless
      |    where: value.op=="d"
      |    in: Invoices
      |    out: NewInvoices
      |    zed: |
      |      | out:={
      |          key: in.key,
      |          value: cast(null, typeof(in.value.before))
      |        }
      |""".stripMargin
}
