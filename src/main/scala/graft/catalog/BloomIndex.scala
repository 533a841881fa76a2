package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Manifest-level BLOOM point-lookup skipping (SURVEY L74).
  *
  * Range stats prune files only when the predicate column correlates
  * with the write layout. A table clustered by topic/time holds ids
  * SCATTERED across every file, so each file's id [min, max] spans the
  * whole domain and stats pruning keeps everything — a point lookup
  * ("fetch document 12345", the RTBF audit read) scans the table. The
  * production answer (parquet column bloom filters, Iceberg's puffin
  * sidecars, ClickHouse skip indexes) is a per-file membership sketch
  * consulted AFTER range pruning; this is that, at the catalog layer:
  *
  *  - at registration, one Spark job aggregates a per-(file, column)
  *    bloom (split into m = next-pow-2(10·maxRows) bits, k = 7 —
  *    ~1% FPP at 10 bits/row) and writes ONE sidecar parquet per
  *    commit, sorted by file so later point reads push down;
  *  - each `DataFileMeta` carries `bloomPath` (the commit's sidecar);
  *    the manifest JSON stays O(files), never O(rows) — the bits live
  *    in the sidecar, not the snapshot log;
  *  - the scan planner (`GraftCatalog.planFiles`, which SQL scans and
  *    DataFrame reads share) runs partition, then stats pruning, then
  *    bloom-tests only the survivors for `EqualTo`/`In` predicates
  *    ([[keptAny]]), reading each sidecar once per scan on the driver (a
  *    bounded metadata read, no Spark job: files without blooms, or
  *    columns not bloomed, stay conservatively kept).
  *
  * Determinism: hashing is the splitmix64 finalizer + Kirsch-
  * Mitzenmacher double hashing — pure functions of the value, so the
  * same corpus always builds byte-identical sidecars whatever the
  * layout (merge is a commutative OR). No false negatives by
  * construction; false positives only cost a kept file.
  */
object BloomIndex {

  /** k: hash probes per value (~optimal for 10 bits/row). */
  val HashCount = 7

  /** m in BITS: next power of two of 10·rows, floored at 1024 (tiny
    * files), capped at 2^27 (16 MiB — a file with more rows than that
    * should be split long before bloom sizing is its problem). */
  def bitsFor(maxRows: Long): Int = {
    val target = math.max(1024L, math.min(maxRows * 10L, 1L << 27))
    var m = 1024
    while (m < target) m <<= 1
    m
  }

  /** splitmix64 finalizer (Steele/Lea/Flood 2014, public domain). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def eachBit(value: Long, mBits: Int, k: Int = HashCount)(
      f: Int => Unit): Unit = {
    val h1 = mix64(value)
    val h2 = mix64(h1) | 1L // odd stride hits every position of a pow-2 m
    var h = h1
    var i = 0
    while (i < k) {
      f((h & (mBits - 1L)).toInt) // m is a power of two — mask, not mod
      h += h2
      i += 1
    }
  }

  private[catalog] def set(bits: Array[Byte], value: Long): Unit =
    eachBit(value, bits.length * 8)(p =>
      bits(p >>> 3) = (bits(p >>> 3) | (1 << (p & 7))).toByte)

  /** Canonical 60-bit string hash — the repo's md5 convention
    * ([[graft.queries.Extensions.tokenHash64Sql]]): first 15 hex digits
    * of md5(value) as a BIGINT. Computed identically by the Spark-side
    * build expression ([[hashExprSql]]) and this driver-side lookup, so
    * a string bloom can never false-negative on a hash mismatch. */
  def hash64(value: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** The Spark-side twin of [[hash64]] over a column. */
  private def hashExprSql(c: String): String =
    s"cast(conv(substring(md5(`$c`), 1, 15), 16, 10) as bigint)"

  /** ONE shared canonicalizer for sidecar keys: the build side (the
    * scan's `input_file_name()` URI) and the lookup side (the manifest's
    * recorded path) both normalize through here, so the two can never
    * disagree. Percent-encoding decodes; an authority-LESS scheme
    * (local `file:/x`, `file:///x`) strips to the plain path — but an
    * AUTHORITY (`hdfs://nn1:8020/x` vs `hdfs://nn2:8020/x`) is preserved:
    * dropping it would key every filesystem's `/x` identically
    * (collisions across authorities) and, since manifests there record
    * the full URI, the sidecar row would never match — blooms silently
    * pruning nothing off the local FS. Unparseable values (a literal
    * space in a local path) pass through raw, matching the manifest's
    * own raw recording of the same name. */
  private[graft] def canonicalKey(raw: String): String =
    try {
      val u = new java.net.URI(raw)
      if (u.getScheme == null) raw
      else if (u.getAuthority == null || u.getAuthority.isEmpty) u.getPath
      else s"${u.getScheme}://${u.getAuthority}${u.getPath}"
    } catch { case _: java.net.URISyntaxException =>
      raw.replaceFirst("^file:(//)?", "") }

  private val uriToPath = udf { raw: String => canonicalKey(raw) }

  /** Membership test: false = DEFINITELY absent (skip the file). `k` is
    * the probe count the sidecar was BUILT with — read back from the
    * sidecar row at lookup, never assumed from the compile-time default
    * (a HashCount bump would otherwise turn every old sidecar into a
    * silent false-negative factory). */
  def mightContain(bits: Array[Byte], value: Long,
                   k: Int = HashCount): Boolean = {
    var all = true
    eachBit(value, bits.length * 8, k)(p =>
      all &&= ((bits(p >>> 3) >> (p & 7)) & 1) == 1)
    all
  }

  /** Partial-aggregable typed bloom: byte-array buffer, in-place set,
    * commutative OR merge — map-side combines like any built-in
    * aggregate, so the registration job shuffles m bits per (file,
    * column), never row data. Input is BOXED so null hash values (null
    * source values — SQL equality never matches them, an absent bit is
    * correct) skip without a pre-filter, letting ALL columns aggregate
    * in ONE source scan. */
  class BloomAgg(mBits: Int)
      extends Aggregator[java.lang.Long, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](mBits / 8)
    override def reduce(b: Array[Byte], x: java.lang.Long): Array[Byte] = {
      if (x != null) set(b, x)
      b
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    override def finish(b: Array[Byte]): Array[Byte] = b
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** ONE sidecar parquet for a commit's files: rows `(file, column, m,
    * k, bits BINARY)`, sorted by (file, column) for point pushdown.
    * Null values are EXCLUDED (SQL equality never matches null, so an
    * absent bit is correct, not a false negative). Integral values hash
    * by their LONG cast; STRING values (UUID-style ids) by the
    * canonical md5-60 [[hash64]], computed identically at build and
    * lookup. */
  def buildSidecar(spark: SparkSession, files: Seq[DataFileMeta],
                   columns: Seq[String], outDir: Path): Unit = {
    require(columns.nonEmpty, "bloom sidecar needs at least one column")
    val m = bitsFor(math.max(1L, files.map(_.rowCount).max))
    val agg = udaf(new BloomAgg(m))
    val src = spark.read.parquet(files.map(_.path): _*)
    // integral columns hash by VALUE, strings by the canonical md5-60
    // ([[hash64]]); anything else is refused — a lossy cast would
    // silently hash a DIFFERENT value than the lookup later tests
    // (false negatives, the one failure mode a bloom must never have)
    def hashed(c: String) = src.schema(c).dataType.typeName match {
      case "byte" | "short" | "integer" | "long" =>
        col(c).cast("long")
      case "string" => expr(hashExprSql(c))
      case other => throw new IllegalArgumentException(
        s"bloom column $c must be integral or string, got $other")
    }
    // ONE scan aggregates every column's bloom (null hashes skip inside
    // the aggregator — a per-column filter would force a scan per
    // column, doubling registration I/O for a two-column table); the
    // per-file aggregate is tiny, persisted only so the per-column melt
    // below doesn't re-run the scan per union branch
    val agged = src
      .select(
        // normalize the scan's file URI ("file:/x", "file:///x",
        // percent-encoded) to the manifest's plain filesystem path —
        // a scheme-only strip would leave "%20" in the key and the
        // sidecar row would never match kept()'s raw-path probe for
        // any file whose path URI-encodes (space, %, non-ASCII)
        uriToPath(input_file_name()).as("file") +:
          columns.map(c => hashed(c).as(s"__h_$c")): _*)
      .groupBy(col("file"))
      .agg(agg(col(s"__h_${columns.head}")).as(s"__b_${columns.head}"),
        columns.tail.map(c => agg(col(s"__h_$c")).as(s"__b_$c")): _*)
      .persist()
    try {
      columns.map { c =>
          agged.select(col("file"), lit(c).as("column"), lit(m).as("m"),
            lit(HashCount).as("k"), col(s"__b_$c").as("bits"))
        }
        .reduce(_ unionByName _)
        .repartition(1).sortWithinPartitions("file", "column")
        .write.parquet(outDir.toString)
    } finally { agged.unpersist(); () }
  }

  /** The bloom rows `(file, column, m, k, bits)` of sidecar `sc` for
    * `files` × `columns`, read on the driver with parquet's own reader —
    * a bounded metadata read, like the footer stats, with no Spark job.
    * Both predicates push into the sorted sidecar (row-group stats, then
    * records), so a point lookup ships only the candidate files' bit
    * arrays, not the whole commit's. */
  private def sidecarRows(sc: String, files: Set[String], columns: Seq[String])
      : Seq[(String, String, Int, Int, Array[Byte])] = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.io.api.Binary
    def in(c: String, vs: Iterable[String]) =
      FilterApi.in(FilterApi.binaryColumn(c), vs.map(Binary.fromString).toSet.asJava)
    val filter = FilterCompat.get(FilterApi.and(in("column", columns), in("file", files)))
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = new HPath(sc)
    dir.getFileSystem(conf).listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
      .flatMap { part =>
        val reader = ParquetReader.builder(new GroupReadSupport(), part)
          .withConf(conf).withFilter(filter).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null).map(g =>
            (g.getString("file", 0), g.getString("column", 0),
              g.getInteger("m", 0), g.getInteger("k", 0),
              g.getBinary("bits", 0).getBytes)).toList
        finally reader.close()
      }
  }

  /** Bloom-test `files` against point probes — `(column, values)` pairs,
    * each an `EqualTo`/`In` of the scan's conjunctive filter with values
    * already hashed ([[hash64]] for strings). A file survives when, for
    * every probe whose column its sidecar blooms, ANY of the values might
    * be present. One sidecar read per commit group however many probes
    * and values; files without a sidecar, or without a bloom row for a
    * probed column, stay kept — skipping must be conservative. Keeps the
    * input order. */
  def keptAny(files: Seq[DataFileMeta],
              probes: Seq[(String, Seq[Long])]): Seq[DataFileMeta] = {
    val columns = probes.map(_._1).distinct
    val bitsByFile = files.groupBy(_.bloomPath).toSeq.flatMap {
      case (None, _) => Nil
      case (Some(sc), fs) =>
        sidecarRows(sc, fs.map(f => canonicalKey(f.path)).toSet, columns)
          .map { case (file, column, m, k, bits) =>
            // the sidecar's persisted geometry is authoritative: a
            // truncated/corrupt bit array must fail loud, not probe the
            // wrong positions and skip files that hold real rows
            require(m == bits.length * 8, s"bloom sidecar $sc: row for " +
              s"$file declares m=$m but carries ${bits.length * 8} bits")
            (sc, file, column) -> ((bits, k))
          }
    }.toMap
    files.filter(f => f.bloomPath.forall { sc =>
      val key = canonicalKey(f.path)
      probes.forall { case (c, values) =>
        bitsByFile.get((sc, key, c)).forall { case (bits, k) =>
          values.exists(mightContain(bits, _, k)) }
      }
    })
  }
}
