package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** A GENUINE unsigned-int64 parquet fixture — physical INT64 annotated
  * INTEGER(64,false), the exact input shape the reference's sanitize rule
  * exists for (`/root/reference/sanitize_parquet.py:56-61`: Iceberg cannot
  * hold UINT64, so ingestion rewrites it as DECIMAL(20,0)).
  *
  * Spark cannot WRITE unsigned parquet, so the fixture is produced with
  * the parquet-java example writer directly. Spark's reader surfaces these
  * columns as DECIMAL(20,0); DuckDB reads them as UBIGINT — which is what
  * makes a hash-level differential oracle possible: both engines must
  * agree on values beyond Long.MaxValue.
  *
  * Values are deterministic; the file is written once and reused (the
  * oracle SQL references the fixed path).
  */
object UnsignedFixture {

  /** Bump whenever the schema or row-generation constants below change —
    * the version is part of the file name, so a stale fixture from an
    * older build can never be silently reused by both sides of the
    * differential oracle. */
  val FixtureVersion = 2

  val FixturePath: String = graft.queries.Fixtures.root
    .resolve(s"uint64_fixture/uint64_v$FixtureVersion.parquet").toString

  val Rows = 10000

  /** Idempotently write the fixture; returns its path. The write goes to a
    * temp sibling and is renamed into place, so a crashed half-write is
    * never mistaken for the fixture. */
  def ensureWritten(): String = synchronized {
    val p = Paths.get(FixturePath)
    if (!Files.isRegularFile(p)) {
      Files.createDirectories(p.getParent)
      val tmp = p.getParent.resolve(s".${p.getFileName}.tmp")
      Files.deleteIfExists(tmp)
      val schema = MessageTypeParser.parseMessageType(
        """message uint64_fixture {
          |  required int64 event_id;
          |  required int64 counter (INTEGER(64,false));
          |  optional int64 small_u (INTEGER(64,false));
          |  required int64 timestamp (INTEGER(64,false));
          |  required binary event_type (STRING);
          |}""".stripMargin)
      val writer = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(tmp.toString))
        .withConf(new Configuration())
        .withType(schema)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      val gf = new SimpleGroupFactory(schema)
      var i = 0
      while (i < Rows) {
        val g = gf.newGroup()
        g.append("event_id", i.toLong)
        // high-bit-set longs: unsigned value = 2^63 + 37i — provably
        // beyond BIGINT, the exact range the DECIMAL(20,0) rule is for
        g.append("counter", java.lang.Long.MIN_VALUE + 37L * i)
        if (i % 7 != 0) g.append("small_u", 13L * i)
        // epoch-µs in the unsigned column named `timestamp` → rule B2
        g.append("timestamp", 1704067200000000L + i * 1000000L)
        g.append("event_type", s"t${i % 5}")
        writer.write(g)
        i += 1
      }
      writer.close()
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    FixturePath
  }
}
