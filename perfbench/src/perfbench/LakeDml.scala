package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.GraftCatalog
import graft.etl.Merge

/** lake_dml: a keyed orders-shaped table takes a seeded change stream of
  * MERGE, UPDATE and DELETE. Each change goes to two tables: as SQL
  * through `GraftSparkCatalog` on a copy-on-write table, and through
  * `Merge.mergeIntoMor`/`deleteWhereMor` on a merge-on-read table. After
  * every change both tables are read and compared with a model of the
  * stream kept in the benchmark; `Merge.materialize` pays down the
  * merge-on-read debt at the end of each round. */
final class LakeDml(spark: SparkSession, cat: GraftCatalog, o: Opts, check: Check)
    extends Workload {

  private val ns = "dml"
  private val initialRows = if (o.quick) 2000L else 5000L
  private val customers = 500L
  private val kinds = Seq("merge", "update", "delete")
  private val mergeRows = 100
  private val updateSpan = 60
  private val deleteSpan = 50

  private def rowOf(r: Gen.Order): Row = Row(r.key, r.cust, r.status, Gen.money(r.cents),
    java.sql.Date.valueOf(Gen.date(r.days)), r.priority)
  /** The per-row term of the order-independent checksum; `Checksum`
    * computes the same in SQL. */
  private def mix(r: Gen.Order): Long = Math.floorMod(r.key * 1000003L + r.cust * 7919L +
    r.cents * 31L + r.days * 131L + r.status.charAt(0) * 17L + r.priority.charAt(0), 2147483647L)
  private val Checksum = "count(*) AS n, sum(o_orderkey) AS k, " +
    "sum(cast(o_totalprice * 100 AS bigint)) AS p, " +
    "sum(pmod(o_orderkey * 1000003 + o_custkey * 7919 + cast(o_totalprice * 100 AS bigint) * 31 + " +
    "datediff(o_orderdate, DATE'1992-01-01') * 131 + ascii(o_orderstatus) * 17 + " +
    "ascii(o_orderpriority), 2147483647)) AS m"

  /** A copy-on-write and a merge-on-read table fed one stream, and the
    * model of that stream. */
  private final class Pair(val name: String) {
    val cow = s"${name}_cow"
    val mor = s"${name}_mor"
    val model = mutable.HashMap[Long, Gen.Order]()
    val keys = mutable.ArrayBuffer[Long]()
    var nextKey = initialRows + 1
    var change = 0
    def remove(k: Long): Unit = if (model.remove(k).isDefined) {
      val i = keys.indexOf(k); keys(i) = keys.last; keys.remove(keys.size - 1)
    }
    def put(r: Gen.Order): Unit = { if (!model.contains(r.key)) keys += r.key; model(r.key) = r }
    def expected: String = Seq(model.size.toLong, model.keysIterator.sum,
      model.valuesIterator.map(_.cents).sum, model.valuesIterator.map(mix).sum).mkString("|")
  }

  private val warm = new Pair("warmup")
  private val orders = new Pair("orders")
  private var schema: org.apache.spark.sql.types.StructType = _
  def tables: Seq[(String, String)] = Seq(ns -> orders.cow, ns -> orders.mor)

  def setup(): Seq[Double] = {
    val raw = o.dir.resolve("raw").resolve("orders")
    val initial = Gen.orders(o.seed, initialRows, customers)
    Gen.writeParts(raw, Gen.OrderSchema, initial, 2)(Gen.orderRow)
    schema = spark.read.parquet(raw.toString).schema
    for (p <- Seq(warm, orders); t <- Seq(p.cow, p.mor)) {
      cat.createTable(ns, t, schema)
      cat.registerFiles(ns, t, Seq(raw))
    }
    Seq(warm, orders).foreach(p => initial.foreach(p.put))
    Setup.mark("fixture")
    // warm-up: whole rounds on a pair of its own, so the measured pair
    // always starts from the same state
    Warmup.run(o.quick)(round(warm))
  }

  def runRound(): Unit = round(orders)

  private def round(p: Pair): Unit = kinds.indices.foreach { i =>
    Trace.op("change") { op =>
      op.write(applyChange(op, p))
      op.read(checkRead(op, p))
      if (i == kinds.size - 1)
        op.maintain(op.span("etl.materialize")(Merge.materialize(spark, cat, ns, p.mor)))
    }
  }

  /** The next change of the stream, on both tables and on the model. */
  private def applyChange(op: Trace.Op, p: Pair): Unit = {
    val rnd = new Random(o.seed * 7919L + p.change * 31L + p.name.length)
    val kind = kinds(p.change % kinds.size)
    p.change += 1
    val before = if (Trace.enabled && Trace.isMeasuring) Some(fileState(p)) else None
    val lo = 1 + rnd.nextInt((p.nextKey - 100).toInt).toLong
    kind match {
      case "merge" =>
        val existing = (1 to mergeRows * 7 / 10).map(_ => p.keys(rnd.nextInt(p.keys.size))).distinct
        val fresh = (1 to mergeRows - existing.size).map(_ => { p.nextKey += 1; p.nextKey - 1 })
        val src = (existing ++ fresh).map(k => Gen.order(rnd.nextLong(), k, customers))
        upsert(op, p, src)
      case "update" =>
        // SQL UPDATE on the copy-on-write table commits only part of the
        // table (see CHANGES.md), so the update goes to both tables as an
        // upsert of the changed rows
        val hi = lo + updateSpan - 1
        upsert(op, p, (lo to hi).flatMap(p.model.get).map(r => r.copy(status = "P", cents = r.cents + 100)))
      case "delete" =>
        val hi = lo + deleteSpan - 1
        op.span("dml.cow")(spark.sql(
          s"DELETE FROM graft.$ns.${p.cow} WHERE o_orderkey BETWEEN $lo AND $hi"))
        op.span("etl.mor_write")(Merge.deleteWhereMor(spark, cat, ns, p.mor,
          col("o_orderkey").between(lo, hi), Seq("o_orderkey")))
        (lo to hi).foreach(p.remove)
    }
    before.foreach { b =>
      val after = fileState(p)
      Trace.count("dml.files_rewritten", (b._1 -- after._1).size)
      Trace.count("dml.bytes_written", (after._1 -- b._1).toSeq.map(after._2).sum)
      Trace.count("dml.stmts", 2)
    }
  }

  /** SQL MERGE on the copy-on-write table, `Merge.mergeIntoMor` on the
    * merge-on-read one, with the same source rows. */
  private def upsert(op: Trace.Op, p: Pair, src: Seq[Gen.Order]): Unit = {
    val srcDf = spark.createDataFrame(src.map(rowOf).asJava, schema)
    srcDf.createOrReplaceTempView(s"${p.name}_src")
    op.span("dml.cow")(spark.sql(s"MERGE INTO graft.$ns.${p.cow} t USING ${p.name}_src s " +
      "ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *"))
    op.span("etl.mor_write")(Merge.mergeIntoMor(spark, cat, ns, p.mor, srcDf, Seq("o_orderkey")))
    src.foreach(p.put)
  }

  /** Data and delete files of both tables, with their sizes. */
  private def fileState(p: Pair): (Set[String], Map[String, Long]) = {
    val fs = Seq(p.cow, p.mor).flatMap { t =>
      val m = cat.loadTable(ns, t)
      m.filesAsOf(None) ++ m.deleteFilesAsOf(None)
    }
    (fs.map(_.path).toSet, fs.map(f => f.path -> f.sizeBytes).toMap)
  }

  /** Both tables in one query: the copy-on-write one through SQL, the
    * merge-on-read one through `GraftCatalog.readTable`, whose SQL reads
    * are refused while it carries delete files. */
  private def checkRead(op: Trace.Op, p: Pair): Unit = {
    if (Trace.enabled && Trace.isMeasuring) op.span("catalog.load")(cat.loadTable(ns, p.cow))
    cat.readTable(spark, ns, p.mor).createOrReplaceTempView(s"${p.name}_mor_head")
    val rows = spark.sql(s"SELECT 'cow', $Checksum FROM graft.$ns.${p.cow} " +
      s"UNION ALL SELECT 'mor', $Checksum FROM ${p.name}_mor_head").collect()
      .map(r => r.getString(0) -> r.toSeq.tail.map(BiServe.norm).mkString("|")).toMap
    val want = p.expected
    check.equal(want, rows.getOrElse("cow", ""), s"${p.cow} after change ${p.change}")
    check.equal(want, rows.getOrElse("mor", ""), s"${p.mor} after change ${p.change}")
  }

  def finish(): Unit = checkRead(null, orders)
}
