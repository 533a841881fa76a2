package perfbench

import java.sql.Connection
import java.util.concurrent.{Executors, TimeUnit}

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.catalog.GraftCatalog
import graft.sql.ThriftServe

/** bi_serve: dashboard loads over Thrift JDBC, a closed loop of a few
  * clients. A load opens a connection, runs `SHOW TABLES` and `DESCRIBE`,
  * then the chart set, then closes. Every chart's rows are compared with
  * the answer computed in the benchmark from the generated rows. No
  * commits happen in the measured phase. */
final class BiServe(spark: SparkSession, cat: GraftCatalog, o: Opts, check: Check)
    extends Workload {

  private val ns = "bi"
  private val nOrders = if (o.quick) 3000L else 15000L
  private val nCustomers = nOrders / 10
  private val batches = 2
  private val filesPerBatch = 4
  private val rnd = new Random(o.seed)

  final case class Chart(name: String, sql: String, expected: Seq[String], liveFiles: Long)
  private var charts: Seq[Chart] = Nil
  private var port = 0
  private val expectedTables = Seq("customer", "lineitem", "lineitem_c", "nation", "orders", "region")

  def tables: Seq[(String, String)] = expectedTables.map(ns -> _)

  def setup(): Seq[Double] = {
    val raw = o.dir.resolve("raw")
    val customers = Gen.customers(o.seed, nCustomers)
    val orders = Gen.orders(o.seed, nOrders, nCustomers)
    val lines = Gen.lines(o.seed, orders)
    Gen.write(raw.resolve("region").resolve("part-0.parquet"), Gen.RegionSchema,
      Gen.Regions.indices.iterator)(Gen.regionRow)
    Gen.write(raw.resolve("nation").resolve("part-0.parquet"), Gen.NationSchema,
      Gen.Nations.indices.iterator)(Gen.nationRow)
    Gen.writeParts(raw.resolve("customer"), Gen.CustomerSchema, customers, 1)(Gen.customerRow)
    Gen.writeParts(raw.resolve("orders"), Gen.OrderSchema, orders, 2)(Gen.orderRow)
    Gen.writeParts(raw.resolve("lineitem"), Gen.LineSchema, lines, 2)(Gen.lineRow)
    Setup.mark("generate")
    // metadata-only import of the raw folders, the reference's importer
    cat.importFolders(spark, raw.toString, ns)
    Setup.mark("import")

    // a multi-file, date-clustered lineitem with bloom sidecars on the
    // point-lookup key and a short snapshot history: one snapshot per
    // orderkey third, each third in ship-date order across its files
    cat.createTable(ns, "lineitem_c", spark.read.parquet(raw.resolve("lineitem").toString).schema)
    val cut = (1 to batches).map(b => nOrders * b / batches)
    val batchLines = (1 to batches).map { b =>
      val lo = if (b == 1) 0L else cut(b - 2)
      lines.filter(l => l.order > lo && l.order <= cut(b - 1)).sortBy(l => (l.shipDays, l.order, l.line))
    }
    val snaps = batchLines.zipWithIndex.map { case (bl, i) =>
      val dir = o.dir.resolve("staged").resolve(s"lineitem_c-$i")
      val files = Gen.writeParts(dir, Gen.LineSchema, bl, filesPerBatch)(Gen.lineRow)
      val meta = cat.registerFilesWithBlooms(spark, ns, "lineitem_c", Seq(dir), Seq("l_orderkey"))
      (meta.currentSnapshotId, files.size.toLong, bl.size.toLong)
    }
    Setup.mark("register")

    // chart parameters, drawn from the seed, and each chart's answer
    // computed here from the generated rows
    val key = nOrders / 3 + 1 + rnd.nextInt((nOrders * 2 / 3 - 1).toInt)
    val d1 = rnd.nextInt(Gen.OrderDays - 60)
    val d2 = d1 + 30
    val year = 1993 + rnd.nextInt(4)
    val seg = Gen.Segments(rnd.nextInt(Gen.Segments.size))
    val live = (t: String) => cat.files(ns, t).size.toLong
    def row(vs: Any*): String = vs.map(BiServe.norm).mkString("|")
    def money(c: Long) = Gen.money(c)
    def sumLines(ls: Seq[Gen.Line]) =
      Seq(ls.size.toLong, money(ls.map(_.qty).sum), money(ls.map(_.price).sum))
    val custOf = customers.map(c => c.key -> c).toMap
    val orderOf = orders.map(x => x.key -> x).toMap
    val inYear = (x: Gen.Order) => Gen.date(x.days).getYear == year
    charts = Seq(
      Chart("point", "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate " +
        s"FROM graft.$ns.lineitem_c WHERE l_orderkey = $key ORDER BY l_linenumber",
        lines.filter(_.order == key).sortBy(_.line).map(l =>
          row(l.order, l.line, money(l.qty), money(l.price), Gen.date(l.shipDays))), live("lineitem_c")),
      Chart("range", "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
        s"sum(l_extendedprice) AS p FROM graft.$ns.lineitem_c " +
        s"WHERE l_shipdate BETWEEN DATE'${Gen.date(d1)}' AND DATE'${Gen.date(d2)}' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        lines.filter(l => l.shipDays >= d1 && l.shipDays <= d2).groupBy(l => (l.flag, l.status))
          .toSeq.sortBy(_._1).map { case ((f, st), ls) => row(f +: st +: sumLines(ls): _*) },
        live("lineitem_c")),
      Chart("groupby", "SELECT o_orderpriority, o_orderstatus, count(*) AS n, sum(o_totalprice) AS t " +
        s"FROM graft.$ns.orders GROUP BY o_orderpriority, o_orderstatus " +
        "ORDER BY o_orderpriority, o_orderstatus",
        orders.groupBy(x => (x.priority, x.status)).toSeq.sortBy(_._1).map { case ((pr, st), xs) =>
          row(pr, st, xs.size.toLong, money(xs.map(_.cents).sum)) }, live("orders")),
      Chart("star", "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue, count(*) AS n " +
        s"FROM graft.$ns.lineitem JOIN graft.$ns.orders ON l_orderkey = o_orderkey " +
        s"JOIN graft.$ns.customer ON o_custkey = c_custkey " +
        s"JOIN graft.$ns.nation ON c_nationkey = n_nationkey " +
        s"WHERE o_orderdate >= DATE'$year-01-01' AND o_orderdate < DATE'${year + 1}-01-01' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name",
        lines.filter(l => inYear(orderOf(l.order)))
          .groupBy(l => Gen.Nations(custOf(orderOf(l.order).cust).nation.toInt)).toSeq
          .map { case (n, ls) =>
            (n, java.math.BigDecimal.valueOf(ls.map(l => l.price * (100 - l.disc)).sum, 4), ls.size.toLong) }
          .sortBy { case (n, rev, _) => (rev.negate, n) }.map { case (n, rev, c) => row(n, rev, c) },
        Seq("lineitem", "orders", "customer", "nation").map(live).sum),
      Chart("topk", s"SELECT c_custkey, c_name, c_acctbal FROM graft.$ns.customer " +
        s"WHERE c_mktsegment = '$seg' ORDER BY c_acctbal DESC, c_custkey LIMIT 10",
        customers.filter(_.segment == seg).sortBy(c => (-c.acctbal, c.key)).take(10)
          .map(c => row(c.key, c.name, money(c.acctbal))), live("customer")),
      Chart("version", "SELECT count(*) AS n, sum(l_quantity) AS q, sum(l_extendedprice) AS p " +
        s"FROM graft.$ns.lineitem_c VERSION AS OF ${snaps.head._1}",
        Seq(row(sumLines(batchLines.head): _*)), cat.files(ns, "lineitem_c", Some(snaps.head._1)).size.toLong),
      Chart("snapshots", "SELECT snapshot_id, operation, added_data_files, added_rows " +
        s"FROM graft.$ns.lineitem_c.snapshots ORDER BY snapshot_id",
        snaps.map { case (id, files, rows) => row(id, "append", files, rows) }, 0L))
    check(charts.head.expected.nonEmpty, s"point-lookup key $key has no rows")

    port = ThriftServe.ensureStarted(spark)
    Setup.mark("thrift")
    // warm-up: rounds of concurrent loads
    Warmup.run(o.quick)(runRound())
  }

  /** One dashboard load. */
  private def load(op: Trace.Op): Unit = {
    val t0 = Trace.nowNs
    var tEnd = 0L
    ThriftServe.withConnection(port) { c =>
      op.mark("sql.connect", t0)
      val shown = stmt(op, c, s"SHOW TABLES IN graft.$ns").map(_.split('|')(1))
      check.equal(expectedTables, shown.sorted, "SHOW TABLES")
      val cols = stmt(op, c, s"DESCRIBE graft.$ns.lineitem_c").map(_.split('|')(0))
      check(cols.contains("l_orderkey") && cols.contains("l_shipdate"), s"DESCRIBE: $cols")
      charts.foreach { ch =>
        val rows = op.read(stmt(op, c, ch.sql))
        check.equal(ch.expected, rows, s"chart ${ch.name}")
        Trace.count("scan.files_live", ch.liveFiles)
        Trace.count("scan.stmts", 1)
      }
      tEnd = Trace.nowNs
    }
    op.mark("sql.close", tEnd)
  }

  private def stmt(op: Trace.Op, c: Connection, sql: String): Seq[String] = {
    val st = c.createStatement()
    try {
      val rs = op.span("sql.execute")(st.executeQuery(sql))
      op.span("sql.fetch") {
        val n = rs.getMetaData.getColumnCount
        val buf = Seq.newBuilder[String]
        while (rs.next()) buf += (1 to n).map(i => BiServe.norm(rs.getObject(i))).mkString("|")
        val rows = buf.result()
        Trace.count("sql.rows", rows.size)
        Trace.count("sql.stmts", 1)
        rows
      }
    } finally st.close()
  }

  private lazy val pool = Executors.newFixedThreadPool(o.clients)

  /** One load per client, all clients at once. */
  def runRound(): Unit =
    (1 to o.clients).map(_ => pool.submit(new Runnable {
      def run(): Unit = Trace.op("load")(load)
    })).foreach(_.get())

  def finish(): Unit = { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
}

object BiServe {
  /** One canonical text form for a value, whether it came over JDBC or
    * from an in-process Spark row. */
  def norm(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case d: java.sql.Date => d.toLocalDate.toString
    case other => other.toString
  }
}
