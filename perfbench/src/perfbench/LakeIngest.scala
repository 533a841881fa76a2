package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession

import graft.catalog.GraftCatalog
import graft.etl.{Maintenance, Sanitize}

/** lake_ingest: one writer runs the reference pipeline. Each seeded raw
  * batch lands as parquet with genuine UINT64 and epoch-µs `timestamp`
  * columns, then goes through `Sanitize.sanitizeTree` and
  * `GraftCatalog.registerFiles`. Every few batches the head is read and
  * checked against the generator's running totals; at the end of each
  * round `Maintenance.optimize` and `expireSnapshots` run, and the head
  * and a time-travel read are checked again. */
final class LakeIngest(spark: SparkSession, cat: GraftCatalog, o: Opts, check: Check)
    extends Workload {

  private val ns = "ing"
  private val rowsPerBatch = if (o.quick) 200 else 2000
  private val roundBatches = 8
  private val readEvery = 2
  private val keepLast = roundBatches
  private val hconf = new Configuration()
  private val rawSchema = MessageTypeParser.parseMessageType(
    """message raw_events {
      |  required int64 event_id;
      |  required int64 counter (INTEGER(64,false));
      |  optional int64 small_u (INTEGER(64,false));
      |  required int64 timestamp (INTEGER(64,false));
      |  required binary event_type (STRING);
      |}""".stripMargin)

  /** One table's ingest state and the generator's running totals. */
  private final class Stream(val table: String, val idBase: Long) {
    var batch = 0
    var rows = 0L
    var sumId = BigInt(0)
    var sumCounter = BigInt(0)
    var sumSmall = BigInt(0)
    var nSmall = 0L
    var sumTs = BigInt(0)
    var sumMix = BigInt(0)
    val rowsAt = mutable.LinkedHashMap[Long, Long]()
    def totals: Seq[String] = Seq(rows, sumId, sumCounter, sumSmall, nSmall, sumTs, sumMix).map(_.toString)
  }

  private val warm = new Stream("warmup", 1000000000L)
  private val events = new Stream("events", 0L)
  def tables: Seq[(String, String)] = Seq(ns -> events.table)

  def setup(): Seq[Double] = {
    // the table schema is what sanitize makes of a landed batch
    val probe = land(new Stream("probe", -1L), o.dir.resolve("probe"))
    val clean = o.dir.resolve("probe-clean")
    Sanitize.sanitizeTree(spark, probe.getParent.toString, clean.toString)
    val schema = spark.read.parquet(clean.toString).schema
    Seq(warm, events).foreach(s => cat.createTable(ns, s.table, schema))
    Setup.mark("fixture")
    // warm-up: whole rounds on a table of its own, so the measured table
    // always starts from the same empty state
    Warmup.run(o.quick)(round(warm))
  }

  def runRound(): Unit = round(events)

  private def round(s: Stream): Unit =
    (1 to roundBatches).foreach { i =>
      Trace.op("batch") { op =>
        ingest(op, s)
        if (i % readEvery == 0) op.read(headCheck(op, s, "head"))
        if (i == roundBatches) {
          op.maintain(maintain(op, s))
          op.read(headCheck(op, s, "head after maintenance"))
          op.read(travelCheck(op, s))
        }
      }
    }

  /** Write batch `s.batch` as raw parquet, the way an upstream producer
    * hands over unsigned data, and add it to the running totals. */
  private def land(s: Stream, dir: Path): Path = {
    Files.createDirectories(dir)
    val file = dir.resolve("events.parquet")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString))
      .withConf(hconf).withType(rawSchema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val gf = new SimpleGroupFactory(rawSchema)
    val rnd = new Random(o.seed * 1000003L + s.idBase + s.batch)
    val tsBase = 1704067200000000L + s.batch * 60000000L
    try for (i <- 0 until rowsPerBatch) {
      val id = s.idBase + s.batch.toLong * rowsPerBatch + i
      val counter = rnd.nextLong()
      val ts = tsBase + i * 1000L + rnd.nextInt(1000)
      val g = gf.newGroup()
      g.append("event_id", id)
      g.append("counter", counter)
      val uCounter = BigInt(java.lang.Long.toUnsignedString(counter))
      if (i % 7 != 0) {
        val small = rnd.nextInt(1 << 20).toLong
        g.append("small_u", small)
        s.sumSmall += small; s.nSmall += 1
      }
      g.append("timestamp", ts)
      g.append("event_type", s"t${rnd.nextInt(5)}")
      w.write(g)
      s.rows += 1; s.sumId += id; s.sumCounter += uCounter; s.sumTs += ts
      s.sumMix += (uCounter % 1000003) * (id % 1009)
    } finally w.close()
    s.batch += 1
    file
  }

  private def ingest(op: Trace.Op, s: Stream): Unit = op.write {
    val name = f"${s.table}-${s.batch}%06d"
    val landed = op.span("land")(land(s, o.dir.resolve("landing").resolve(name)))
    val clean = o.dir.resolve("clean").resolve(name)
    op.span("etl.sanitize")(Sanitize.sanitizeTree(spark, landed.getParent.toString, clean.toString))
    val file = clean.resolve("events.parquet")
    val meta = op.span("catalog.commit")(cat.registerFiles(ns, s.table, Seq(file)))
    s.rowsAt(meta.currentSnapshotId) = s.rows
    Trace.count("ingest.bytes", Files.size(file))
  }

  /** Count and column checksums of the head, against the generator's
    * totals: the sums over `counter` and `timestamp` check the
    * UINT64→DECIMAL(20,0) and epoch-µs→TIMESTAMP conversions. */
  private def headCheck(op: Trace.Op, s: Stream, what: String): Unit = {
    if (Trace.enabled && op != null) op.span("catalog.load")(cat.loadTable(ns, s.table))
    val r = cat.readTable(spark, ns, s.table).selectExpr(
      "count(*)", "sum(event_id)", "sum(counter)", "sum(small_u)", "count(small_u)",
      "sum(cast(unix_micros(timestamp) AS decimal(38,0)))",
      "sum((counter % 1000003) * (event_id % 1009))").head()
    val got = r.toSeq.map(v => BiServe.norm(v))
    check.equal(s.totals, got, s"${s.table} $what")
  }

  private def maintain(op: Trace.Op, s: Stream): Unit = {
    val meta = op.span("etl.optimize")(Maintenance.optimize(spark, cat, ns, s.table))
    s.rowsAt(meta.currentSnapshotId) = s.rows
    if (Trace.enabled && Trace.isMeasuring)
      Trace.count("etl.rewrite_bytes", meta.filesAsOf(None).map(_.sizeBytes).sum)
    op.span("etl.expire")(cat.expireSnapshots(ns, s.table, keepLast))
  }

  /** Travel to the oldest retained snapshot returns its known count. */
  private def travelCheck(op: Trace.Op, s: Stream): Unit = {
    val retained = cat.snapshots(ns, s.table).map(_.id).filter(s.rowsAt.contains)
    check(retained.nonEmpty, s"${s.table}: no retained snapshot of a known state")
    retained.headOption.foreach { id =>
      val n = cat.readTable(spark, ns, s.table, asOf = Some(id)).count()
      check.equal(s.rowsAt(id), n, s"${s.table} as of snapshot $id")
    }
  }

  def finish(): Unit = headCheck(null, events, "head at end")

}
