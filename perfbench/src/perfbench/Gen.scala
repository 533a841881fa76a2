package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Seeded generators of TPC-H-shaped rows. Every value is a pure function
  * of (seed, salt, key), so the same seed gives the same inputs. Prices are
  * DECIMAL(12,2) cents and dates are days since 1992-01-01, so every answer
  * the benchmark computes from these rows is exact. */
object Gen {
  val Epoch: LocalDate = LocalDate.of(1992, 1, 1)
  val OrderDays = 2406
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
    "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** splitmix64 over (seed, salt, a, b). */
  def pick(seed: Long, salt: Int, m: Long, a: Long, b: Long = 0): Long = {
    var x = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + a * 0x94D049BB133111EBL + b
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    Math.floorMod(x ^ (x >>> 31), m)
  }

  def date(days: Int): LocalDate = Epoch.plusDays(days)
  def money(cents: Long): java.math.BigDecimal = java.math.BigDecimal.valueOf(cents, 2)

  final case class Customer(key: Long, name: String, nation: Long, acctbal: Long, segment: String)
  final case class Order(key: Long, cust: Long, status: String, cents: Long,
                         days: Int, priority: String)
  final case class Line(order: Long, line: Int, qty: Long, price: Long, disc: Long,
                        tax: Long, flag: String, status: String, shipDays: Int)

  def customers(seed: Long, n: Long): IndexedSeq[Customer] = (1L to n).map { k =>
    Customer(k, f"Customer#$k%09d", pick(seed, 1, 25, k),
      pick(seed, 2, 1100000, k) - 99999, Segments(pick(seed, 3, 5, k).toInt))
  }

  def orders(seed: Long, n: Long, customers: Long): IndexedSeq[Order] = (1L to n).map(order(seed, _, customers))

  def order(seed: Long, k: Long, customers: Long): Order =
    Order(k, pick(seed, 11, customers, k) + 1, Seq("F", "O", "P")(pick(seed, 12, 3, k).toInt),
      pick(seed, 13, 50000000, k) + 100000, pick(seed, 14, OrderDays, k).toInt,
      Priorities(pick(seed, 15, 5, k).toInt))

  /** 1..7 lines per order, shipped 1..121 days after the order. */
  def lines(seed: Long, orders: Seq[Order]): IndexedSeq[Line] = orders.toIndexedSeq.flatMap { o =>
    (1 to pick(seed, 21, 7, o.key).toInt + 1).map { ln =>
      val qty = pick(seed, 22, 50, o.key, ln) + 1
      Line(o.key, ln, qty * 100, qty * (pick(seed, 23, 100000, o.key, ln) + 90000),
        pick(seed, 24, 11, o.key, ln), pick(seed, 25, 9, o.key, ln),
        Seq("A", "N", "R")(pick(seed, 26, 3, o.key, ln).toInt),
        Seq("F", "O")(pick(seed, 27, 2, o.key, ln).toInt),
        o.days + pick(seed, 28, 121, o.key, ln).toInt + 1)
    }
  }

  val RegionSchema = "r_regionkey: int64; r_name: binary (STRING)"
  val NationSchema = "n_nationkey: int64; n_name: binary (STRING); n_regionkey: int64"
  val CustomerSchema = "c_custkey: int64; c_name: binary (STRING); c_nationkey: int64; " +
    "c_acctbal: int64 (DECIMAL(12,2)); c_mktsegment: binary (STRING)"
  val OrderSchema = "o_orderkey: int64; o_custkey: int64; o_orderstatus: binary (STRING); " +
    "o_totalprice: int64 (DECIMAL(12,2)); o_orderdate: int32 (DATE); o_orderpriority: binary (STRING)"
  val LineSchema = "l_orderkey: int64; l_linenumber: int32; l_quantity: int64 (DECIMAL(12,2)); " +
    "l_extendedprice: int64 (DECIMAL(12,2)); l_discount: int64 (DECIMAL(12,2)); " +
    "l_tax: int64 (DECIMAL(12,2)); l_returnflag: binary (STRING); l_linestatus: binary (STRING); " +
    "l_shipdate: int32 (DATE)"

  def regionRow(g: Group, i: Int): Unit = { g.append("r_regionkey", i.toLong); g.append("r_name", Regions(i)) }
  def nationRow(g: Group, i: Int): Unit = {
    g.append("n_nationkey", i.toLong); g.append("n_name", Nations(i)); g.append("n_regionkey", (i % 5).toLong)
  }
  def customerRow(g: Group, c: Customer): Unit = {
    g.append("c_custkey", c.key); g.append("c_name", c.name); g.append("c_nationkey", c.nation)
    g.append("c_acctbal", c.acctbal); g.append("c_mktsegment", c.segment)
  }
  def orderRow(g: Group, o: Order): Unit = {
    g.append("o_orderkey", o.key); g.append("o_custkey", o.cust); g.append("o_orderstatus", o.status)
    g.append("o_totalprice", o.cents); g.append("o_orderdate", o.days + Epoch.toEpochDay.toInt)
    g.append("o_orderpriority", o.priority)
  }
  def lineRow(g: Group, l: Line): Unit = {
    g.append("l_orderkey", l.order); g.append("l_linenumber", l.line); g.append("l_quantity", l.qty)
    g.append("l_extendedprice", l.price); g.append("l_discount", l.disc); g.append("l_tax", l.tax)
    g.append("l_returnflag", l.flag); g.append("l_linestatus", l.status)
    g.append("l_shipdate", l.shipDays + Epoch.toEpochDay.toInt)
  }

  private val hconf = new Configuration()

  /** Write `rows` as one snappy parquet file with the given
    * `name: type` fields, all required. */
  def write[A](file: Path, fields: String, rows: Iterator[A])(fill: (Group, A) => Unit): Path = {
    Files.createDirectories(file.getParent)
    val schema = MessageTypeParser.parseMessageType(
      fields.split(";").map(_.trim.split(":", 2)).map { case Array(n, t) =>
        s"required ${t.trim.split(" ", 2).head} $n ${t.trim.split(" ", 2).drop(1).mkString};" }
        .mkString("message m {\n", "\n", "\n}"))
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString))
      .withConf(hconf).withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { r => val g = gf.newGroup(); fill(g, r); w.write(g) }
    finally w.close()
    file
  }

  /** Write `rows` split into `parts` files of consecutive rows. */
  def writeParts[A](dir: Path, fields: String, rows: IndexedSeq[A], parts: Int)
                   (fill: (Group, A) => Unit): Seq[Path] = {
    val per = math.max(1, math.ceil(rows.size.toDouble / parts).toInt)
    rows.grouped(per).zipWithIndex.map { case (chunk, i) =>
      write(dir.resolve(f"part-$i%05d.parquet"), fields, chunk.iterator)(fill)
    }.toSeq
  }
}
