package graft.catalog

import java.nio.file.Paths

import org.apache.spark.sql.functions._

/** The SECOND PROCESS of the cross-JVM commit-race proof
  * ([[CrossJvmRaceSpec]] forks this main with plain `java`): production
  * concurrency on one warehouse is two separate Spark APPLICATIONS — a
  * compaction job and a streaming maintainer — not two threads, and the
  * catalog's optimistic version claim (O_EXCL create + atomic rename,
  * [[GraftCatalog]] commit) is only honest if it holds across processes.
  * Every prior race spec was same-JVM threads; this worker makes the
  * racing writer a real fork. The reference's importer commits through
  * Iceberg's HadoopCatalog optimistic retry, which is multi-process by
  * contract (`ImportParquetFolders.java:102-117`).
  *
  * Modes (args):
  *  - `append-codes <wh> <ns> <table> <idStart> <n>` — starts its own
  *    local session from [[graft.GraftSession.builder]] (so the native
  *    vector expressions resolve), loads the committed cells/books
  *    model, and runs one [[graft.operators.IvfPq.appendCodes]] of `n`
  *    synthetic vectors. Prints `OK` on success; `REFUSED <class>` and exit 3 on
  *    a concurrency refusal (the strict-rebuild race's correct outcome).
  *  - `storm <wh> <ns> <table> <n> <parquetFile>` — NO Spark: `n` plain
  *    metadata-only append commits of the given file, each retried
  *    through the catalog's own optimistic loop (plus an outer retry:
  *    the spec asserts no LOST or CORRUPT commit, not the bounded
  *    in-process retry budget). Exit 0 once all `n` landed.
  */
object CrossJvmWorker {

  def main(args: Array[String]): Unit = args(0) match {
    case mode @ ("append-codes" | "append-codes-torn") =>
      val Array(_, wh, ns, table, idStart, n) = args
      // torn mode: HALT the whole process inside appendTagged's window
      // between the raw and codes commits — Runtime.halt skips every
      // finally/shutdown hook, the honest kill -9 shape. The committed
      // raw half plus the missing codes half is exactly the state the
      // content-fingerprint replay tag exists to heal.
      if (mode == "append-codes-torn")
        graft.operators.IvfPq.appendTornSeam = () => Runtime.getRuntime.halt(137)
      val spark = graft.GraftSession.builder("local[2]", 2)
        .config("spark.ui.enabled", "false")
        .appName("graft-crossjvm-appender")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        val cat = new GraftCatalog(wh)
        val cents = graft.operators.IvfPq.loadCells(spark, cat, ns, table)
        val model = graft.operators.IvfPq.loadModel(spark, cat, ns, table)
        val dim = cents.head.size
        // deterministic synthetic batch: values are a pure function of
        // (vec_id, component) so the spec can recompute them for checks
        val batch = spark.range(idStart.toLong, idStart.toLong + n.toLong)
          .select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(dim - 1)), j =>
              ((pmod(xxhash64(col("id"), j), lit(2001L)) - lit(1000L)) /
                1000.0).cast("float")).as("embedding"))
        graft.operators.IvfPq.appendCodes(spark, cat, ns, table,
          cents, model, batch)
        println("OK")
      } catch {
        case e @ (_: ConcurrentOverwriteException |
                  _: IllegalStateException | _: IllegalArgumentException) =>
          println(s"REFUSED ${e.getClass.getSimpleName}: ${e.getMessage}")
          spark.stop()
          sys.exit(3)
      } finally spark.stop()

    case "sync-changelog" =>
      val Array(_, wh, ns, table) = args
      val spark = graft.GraftSession.builder("local[2]", 2)
        .config("spark.ui.enabled", "false")
        .appName("graft-crossjvm-syncer")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        val cat = new GraftCatalog(wh)
        cat.syncChangelogView(spark, ns, table)
        println("OK")
      } finally spark.stop()

    case "storm" =>
      val Array(_, wh, ns, table, n, file) = args
      val cat = new GraftCatalog(wh)
      val meta = GraftCatalog.statOne(Paths.get(file).toAbsolutePath.toString)
      var done = 0
      while (done < n.toInt) {
        try { cat.append(ns, table, Seq(meta)); done += 1 }
        catch { case _: CommitConflictException => /* outer retry */ }
      }
      println(s"OK $done")

    case other =>
      System.err.println(s"unknown mode $other"); sys.exit(2)
  }
}
