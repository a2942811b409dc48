package graft.bench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Encoder, SparkSession}

/** Seeded generator of the TPC-H-shaped corpus the engine's entries read:
  * `region nation customer supplier part orders lineitem events documents
  * embeddings`, one parquet directory each (`<dir>/<table>.parquet`).
  *
  * Column names, types and value domains follow the engine's test corpora
  * (timestamps are written as TIMESTAMP_NTZ, integer keys as int32 where
  * those corpora use int32). Rows are built on the driver from one
  * `SplittableRandom(seed)` per table, so a seed always gives the same
  * bytes' worth of values, independent of Spark's partitioning. */
object Gen {

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
      s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double, o_orderdate: LocalDateTime,
      o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: LocalDateTime)
  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  /** Row counts of one corpus. `Sizes.sf(0.01)` matches the engine's sf0.01
    * test corpus: 15,000 orders, 60,000 line items, 10,000 events. */
  final case class Sizes(customers: Int, orders: Int, lineitems: Int,
      parts: Int, suppliers: Int, events: Int, users: Int, documents: Int,
      embeddings: Int)
  object Sizes {
    def sf(sf: Double): Sizes = Sizes(
      customers = (150000 * sf).toInt, orders = (1500000 * sf).toInt,
      lineitems = (6000000 * sf).toInt, parts = (200000 * sf).toInt,
      suppliers = math.max(10, (10000 * sf).toInt),
      events = (1000000 * sf).toInt, users = math.max(10, (15000 * sf).toInt),
      documents = 500, embeddings = 500)
  }

  val Nations = 25
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Statuses = Seq("F", "O", "P")
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "en", "en", "fr", "zh", "de", "es")
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val PartAdj = Seq("blue", "cold", "hot", "large", "new", "old", "red",
    "small")
  private val PartNoun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
    "rod", "widget")
  private val PartTypes =
    Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")

  private val OrderEpoch = LocalDate.of(1995, 1, 1)
  private val EventEpoch = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** Independent stream per table: adding a table never shifts another's. */
  private def rng(seed: Long, table: Int) =
    new SplittableRandom(seed * 1000003L + table)
  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  def regions: Seq[Region] = Regions.indices.map(i => Region(i, Regions(i)))
  def nations: Seq[Nation] =
    (0 until Nations).map(i => Nation(i, s"NATION_$i", i % Regions.size))

  def customers(seed: Long, n: Int): IndexedSeq[Customer] = {
    val r = rng(seed, 1)
    (0 until n).map(i => Customer(i, f"Customer#$i%09d", r.nextInt(Nations),
      cents(r.nextDouble(-999.99, 9999.99)), pick(r, Segments)))
  }

  def orders(seed: Long, n: Int, customers: Int): IndexedSeq[Order] = {
    val r = rng(seed, 2)
    (0 until n).map(i => Order(i, r.nextInt(customers).toLong,
      pick(r, Statuses), cents(r.nextDouble(1000, 500000)),
      OrderEpoch.plusDays(r.nextInt(2404)).atStartOfDay(),
      pick(r, Priorities)))
  }

  private def suppliers(seed: Long, n: Int): Seq[Supplier] = {
    val r = rng(seed, 3)
    (0 until n).map(i => Supplier(i, f"Supplier#$i%09d", r.nextInt(Nations),
      cents(r.nextDouble(-999.99, 9999.99))))
  }

  private def parts(seed: Long, n: Int): Seq[Part] = {
    val r = rng(seed, 4)
    (0 until n).map(i => Part(i, s"${pick(r, PartAdj)} ${pick(r, PartNoun)}",
      s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes), 1 + r.nextInt(50),
      cents(900 + (i % 1000) * 0.1)))
  }

  private def lineitems(seed: Long, s: Sizes): Seq[Lineitem] = {
    val r = rng(seed, 5)
    (0 until s.lineitems).map { _ =>
      val qty = (1 + r.nextInt(50)).toDouble
      Lineitem(r.nextInt(s.orders).toLong, r.nextInt(s.parts).toLong,
        r.nextInt(s.suppliers).toLong, 1 + r.nextInt(7), qty,
        cents(r.nextDouble(900, 105000)), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
        pick(r, Seq("F", "O")),
        OrderEpoch.plusDays(1 + r.nextInt(2500)).atStartOfDay())
    }
  }

  private def events(seed: Long, s: Sizes): Seq[Event] = {
    val r = rng(seed, 6)
    val span = 30L * 86400L * 1000000L
    (0 until s.events).map(_ => r.nextLong(span)).sorted.zipWithIndex.map {
      case (us, i) => Event(i, EventEpoch.plusNanos(us * 1000),
        r.nextInt(s.users).toLong, pick(r, EventTypes),
        cents(r.nextDouble(0.01, 490)), s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Free text over a 30-word vocabulary; every 12th document past the
    * first ten repeats an earlier one plus trailing `dup` tokens, which
    * gives the exact- and near-duplicate entries something to find. */
  private def documents(seed: Long, n: Int): IndexedSeq[Document] = {
    val r = rng(seed, 7)
    val texts = new scala.collection.mutable.ArrayBuffer[String]()
    (0 until n).map { i =>
      val text =
        if (i >= 10 && i % 12 == 0)
          texts(r.nextInt(texts.size)) + " dup" * (1 + r.nextInt(3))
        else Seq.fill(8 + r.nextInt(72))(pick(r, Words)).mkString(" ")
      texts += text
      Document(i, text, pick(r, Langs), s"src${i % 20}", text.length.toLong)
    }
  }

  /** Unit vectors around ten label centroids (64 dimensions). */
  private def embeddings(seed: Long, n: Int): Seq[Embedding] = {
    val r = rng(seed, 8)
    def gauss(): Double = { // Box-Muller; SplittableRandom has no nextGaussian
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val dim = 64
    val centroids = Array.fill(10, dim)(gauss() * 0.018)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(d => centroids(label)(d) + gauss() * 0.125)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i, v.map(x => (x / norm).toFloat), label)
    }
  }

  private def write[A <: Product: Encoder](spark: SparkSession, dir: String,
      name: String, rows: Seq[A]): Unit =
    spark.createDataset(rows).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/$name.parquet")

  /** The three tables `TripleStore.triples` derives the store from. */
  def writeStoreTables(spark: SparkSession, dir: String,
      cs: Seq[Customer], os: Seq[Order]): Unit = {
    import spark.implicits._
    write(spark, dir, "nation", nations)
    write(spark, dir, "customer", cs)
    write(spark, dir, "orders", os)
  }

  /** Every table of the corpus. */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long,
      s: Sizes): Unit = {
    import spark.implicits._
    val cs = customers(seed, s.customers)
    writeStoreTables(spark, dir, cs, orders(seed, s.orders, s.customers))
    write(spark, dir, "region", regions)
    write(spark, dir, "supplier", suppliers(seed, s.suppliers))
    write(spark, dir, "part", parts(seed, s.parts))
    write(spark, dir, "lineitem", lineitems(seed, s))
    write(spark, dir, "events", events(seed, s))
    write(spark, dir, "documents", documents(seed, s.documents))
    write(spark, dir, "embeddings", embeddings(seed, s.embeddings))
  }

  /** The triples `TripleStore.triples` derives from these tables, computed
    * here without Spark — the expected answer of every point read. Keyed
    * by subject; order subjects have 3 triples, customers 2, nations 1. */
  def expectedTriples(cs: Seq[Customer], os: Seq[Order]):
      Map[String, Seq[graft.Triple]] = {
    def ms(t: LocalDateTime) = t.toInstant(ZoneOffset.UTC).toEpochMilli
    val fromOrders = os.map { o =>
      val s = s"<order_${o.o_orderkey}>"
      val ts = ms(o.o_orderdate)
      s -> Seq(graft.Triple(s, "<hasStatus>", o.o_orderstatus, ts),
        graft.Triple(s, "<hasPriority>", o.o_orderpriority, ts),
        graft.Triple(s, "<orderedBy>", s"<cust_${o.o_custkey}>", ts))
    }
    val fromCustomers = cs.map { c =>
      val s = s"<cust_${c.c_custkey}>"
      s -> Seq(graft.Triple(s, "<inNation>", s"<nation_${c.c_nationkey}>", 0L),
        graft.Triple(s, "<hasSegment>", c.c_mktsegment, 0L))
    }
    val fromNations = nations.map { n =>
      val s = s"<nation_${n.n_nationkey}>"
      s -> Seq(graft.Triple(s, "<inRegion>", s"<region_${n.n_regionkey}>", 0L))
    }
    (fromOrders ++ fromCustomers ++ fromNations).toMap
  }
}
