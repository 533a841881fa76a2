package graft

import org.apache.spark.sql.SparkSession

/** Production session factory applying the reference's tuned operating
  * envelope (BASELINE.md; `/root/reference/entrypoint-spark.sh:110-136`)
  * plus our extensions — the one-stop entry point a user of the library
  * starts from:
  *
  *  - AQE on with 64 MB advisory / 16 MB min post-shuffle partitions and
  *    skew-join splitting (`entrypoint-spark.sh:116-121`)
  *  - 64 MB scan splits (`:124`) and broadcast threshold (`:38`, `:130`)
  *  - vectorized parquet + filter pushdown (`:126-127`, Spark defaults)
  *  - UTC session timezone (the sanitize contract normalizes to UTC)
  *  - `graft.functions.GraftExtensions` (native expressions)
  *  - per-session artifact isolation off: Spark's codegen cache is keyed
  *    by class loader, and an isolated session (each Thrift connection)
  *    gets a fresh one, so every connection would recompile every query;
  *    temp views, `SET` state and catalogs stay per session regardless
  *    (they live in `SessionState`), and graft adds no per-session jars
  *  - a 1000-entry codegen cache (Spark's 100 thrashed under a dashboard's
  *    statement mix)
  *  - small global sorts in one partition (`GraftExtensions`'
  *    [[graft.plans.SmallSortSinglePartition]])
  *
  * `shufflePartitions` defaults to the machine's cores for local mode; on
  * a real cluster pass ~2-3× total executor cores — AQE coalesces down,
  * so erring high is safe (`entrypoint-spark.sh:117` fixes 64 for its
  * local[2] envelope for the same reason).
  */
object GraftSession {
  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16m")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "67108864")
      .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // read at session creation, so it must ride on the builder options
      // that `newSession()` (one per Thrift connection) inherits
      .config("spark.sql.artifact.isolation.enabled", "false")
      // 100 entries thrashed under a dashboard mix: bodies recompiled 4-8×
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** Run `body` with `confs` set on `spark`'s session, then put back what
    * the session held before — the caller's values, not Spark's defaults
    * (a key that was unset is unset again) — so a scoped query neither
    * leaks a setting into the session it borrowed nor resets one of the
    * builder's (a 64 MB broadcast threshold silently dropping to Spark's
    * 10 MB for every later query). */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Run `body` with a [[graft.catalog.GraftSparkCatalog]] over
    * `warehouse` registered on `spark`'s session, passing it the catalog's
    * name; `options` are further catalog options (`rowlevel.mode` ->
    * `merge-on-read`). The registration is scoped by [[withConfs]].
    *
    * Spark caches a catalog instance by name for the session's lifetime
    * and never re-reads its options, so the name is derived from the
    * warehouse's absolute path and the options: the same inputs reuse the
    * cached instance, different options get a fresh one. */
  def withCatalog[T](spark: SparkSession, warehouse: String,
                     options: (String, String)*)(body: String => T): T = {
    val wh = java.nio.file.Paths.get(warehouse).toAbsolutePath.toString
    val id = (wh +: options.sorted.map { case (k, v) => s"$k=$v" }).mkString("\u0000")
    val cname = "graft_" + java.util.UUID.nameUUIDFromBytes(id.getBytes("UTF-8"))
      .toString.replace("-", "").take(16)
    val key = s"spark.sql.catalog.$cname"
    withConfs(spark, Seq(key -> classOf[graft.catalog.GraftSparkCatalog].getName,
      s"$key.warehouse" -> wh) ++ options.map { case (k, v) => s"$key.$k" -> v }: _*)(
      body(cname))
  }
}
