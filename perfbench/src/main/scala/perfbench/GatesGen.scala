package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import java.time.LocalDateTime

/** Seeded generator of the ten tables the `Registry` gates read, with the
  * schemas, key structure and value ranges of the repo's sf0.01 test data
  * (TPC-H-like star schema, an `events` stream, a `documents` corpus and
  * 64-d `embeddings`), written as parquet under `dir/<table>.parquet`.
  *
  * `scale` 1.0 gives sf0.01's row counts. Documents draw their tokens from
  * a 40-word vocabulary as the test data does; `dupShare` of them copy an
  * earlier document and `nearShare` copy one with a single token changed,
  * so the dedup gates have clusters to find (an assumption: the sf0.01 test
  * corpus has no exact duplicates).
  */
final class GatesGen(seed: Long, scale: Double) {
  val dupShare = 0.05
  val nearShare = 0.05

  private def n(base: Int): Int = math.max(5, math.round(base * scale).toInt)
  val customers: Int = n(1500)
  val suppliers: Int = n(100)
  val parts: Int = n(2000)
  val orders: Int = n(15000)
  val events: Int = n(10000)
  val users: Int = math.max(5, events / 66)
  // the test data keeps 500 documents and vectors from sf0.001 up
  val documents = 500
  val vectors = 500
  val dim = 64
  val clusters = 10

  private val vocab = ("the a fast slow big small key order sort table scan merge " +
    "part window hash join batch stream spark dup group query row data filter " +
    "customer line value agg column vector word token text clean split index").split(' ')
  private val langs = Seq("en" -> 0.4, "fr" -> 0.15, "de" -> 0.15, "es" -> 0.15, "zh" -> 0.15)
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("signup", "click", "view", "purchase", "error")

  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  def rowsOf: Map[String, Long] = Map("region" -> 5L, "nation" -> 25L,
    "customer" -> customers.toLong, "supplier" -> suppliers.toLong,
    "part" -> parts.toLong, "orders" -> orders.toLong, "lineitem" -> lineitems,
    "events" -> events.toLong, "documents" -> documents.toLong,
    "embeddings" -> vectors.toLong)
  private var lineitems = 0L

  def describe: String =
    f"seed=$seed scale=$scale%.2f (1.0 = sf0.01 row counts) customers=$customers " +
      f"orders=$orders lineitem=$lineitems events=$events users=$users " +
      f"documents=$documents doc_dup=$dupShare%.2f doc_near=$nearShare%.2f " +
      f"vectors=$vectors dim=$dim clusters=$clusters"

  /** Writes every table, `threads` at a time; returns the total row
    * count. Rows are drawn in one fixed order, so the seed alone decides
    * them.
    */
  def write(spark: SparkSession, dir: String, threads: Int): Long = {
    val rnd = new scala.util.Random(seed)
    def money(lo: Double, hi: Double) = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, StructType, Seq[Row], Int)]
    def put(name: String, schema: StructType, rows: Seq[Row], files: Int): Unit =
      pending += ((name, schema, rows, files))
    def f(name: String, t: DataType) = StructField(name, t)

    put("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (r, i) => Row(i, r) }, 1)
    put("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)), 1)
    put("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        money(-999.99, 9999.99), segments(rnd.nextInt(segments.size)))), 1)
    put("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        money(-999.99, 9999.99))), 1)
    val colors = Seq("red", "blue", "green", "small", "large", "steel", "brass")
    val things = Seq("ring", "widget", "bolt", "gear", "plate", "valve")
    put("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until parts).map(i => Row(i.toLong,
        s"${colors(rnd.nextInt(colors.size))} ${things(rnd.nextInt(things.size))}",
        s"Brand#${1 + rnd.nextInt(25)}", Seq("ECONOMY", "STANDARD", "PROMO")(rnd.nextInt(3)),
        1 + rnd.nextInt(50), 900.0 + (i % 1000) / 10.0)), 1)

    val orderRows = (0 until orders).map { i =>
      Row(i.toLong, rnd.nextInt(customers).toLong, Seq("F", "O", "P")(rnd.nextInt(3)),
        money(1000, 500000), day0.plusDays(rnd.nextInt(2403)),
        priorities(rnd.nextInt(priorities.size)))
    }
    put("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orderRows, 4)
    val lineRows = (0 until orders).flatMap { o =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(o.toLong, rnd.nextInt(parts).toLong, rnd.nextInt(suppliers).toLong, ln, qty,
          math.round(qty * (900 + rnd.nextInt(1100)) * 100) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rnd.nextInt(3)), Seq("O", "F")(rnd.nextInt(2)),
          day0.plusDays(1 + rnd.nextInt(2498)))
      }
    }
    lineitems = lineRows.size.toLong
    put("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lineRows, 4)

    // events: increasing microsecond timestamps over 30 days
    val span = 30L * 24 * 3600 * 1000000L
    val ts = (0 until events).map(_ => (rnd.nextDouble() * span).toLong).sorted
    put("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      ts.zipWithIndex.map { case (us, i) =>
        Row(i.toLong, ev0.plusNanos(us * 1000), rnd.nextInt(users).toLong,
          eventTypes(rnd.nextInt(eventTypes.size)), money(0.01, 490.02),
          s"""{"k": ${rnd.nextInt(100)}}""")
      }, 4)

    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until documents).foreach { i =>
      val u = rnd.nextDouble()
      texts += (if (i > 0 && u < dupShare) texts(rnd.nextInt(i))
        else if (i > 0 && u < dupShare + nearShare) {
          val toks = texts(rnd.nextInt(i)).split(' ')
          toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
          toks.mkString(" ")
        } else Seq.fill(8 + rnd.nextInt(80))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    def lang(): String = {
      var u = rnd.nextDouble()
      langs.find { case (_, p) => u -= p; u < 0 }.getOrElse(langs.head)._1
    }
    put("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, lang(), s"src${rnd.nextInt(20)}", t.length.toLong)
      }.toSeq, 1)

    val centers = Array.fill(clusters, dim)(rnd.nextGaussian())
    put("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until vectors).map { i =>
        val c = rnd.nextInt(clusters)
        val v = centers(c).map(_ + 0.5 * rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, c)
      }, 1)

    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try pending.toSeq.map { case (name, schema, rows, files) =>
      pool.submit(() => {
        spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
        name
      })
    }.foreach(_.get())
    finally pool.shutdown()
    rowsOf.values.sum
  }
}
