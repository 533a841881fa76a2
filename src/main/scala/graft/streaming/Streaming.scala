package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.GraftSession.withConfs
import graft.Tables.QFn
import graft.queries.Fixtures

/** Structured Streaming surface (SURVEY.md §2.H H5/H6). The reference has
  * no streaming runtime — these carry the declared contract's
  * streaming-shaped ops natively: event-time watermarking with late-data
  * drop, and stateful streaming dedup. Non-oracle (DuckDB has no streaming
  * semantics); inputs are fixed literals so results are deterministic.
  *
  * Scale: both are keyed stateful operators — state lives in the state
  * store partitioned by group key, and the watermark bounds state size,
  * which is exactly what makes them viable on an unbounded 100 TB/day
  * stream.
  */
object Streaming {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  /** Streaming-query starts run with few shuffle partitions (4, or 8
    * for the stream-stream joins): every stateful operator commits one
    * state store PER PARTITION PER micro-batch, so partition count — not
    * data volume — dominates these small-state demos (32 partitions
    * measured 2.7× slower than 8 on st_join). Real deployments size
    * stateful stages by state volume the same way. The value is pinned
    * into the checkpoint at first start, so scoping the conf to the
    * start call is safe. */
  private val StatePartitions = "spark.sql.shuffle.partitions"

  /** One landing-zone fixture per (JVM, sfDir, projection): the
    * file-source streaming queries all tail the events table re-written as
    * two "arriving" parquet batches, and rebuilding that landing per bench
    * iteration was fixture tax, not streaming work. The landing is INPUT
    * only — each run still gets its own fresh checkpoint dir, so the
    * source re-discovers every file and the micro-batch sequence is
    * identical to a fresh landing. */
  private def landedEvents(s: SparkSession, d: String,
                           cols: Seq[String]): java.nio.file.Path =
    Fixtures.memo(("landings", (d, cols.mkString(",")))) {
      val in = Fixtures.scratch(s, "st_landing").resolve("in")
      val ev = graft.Tables.events(s, d).select(cols.map(col): _*)
      // ONE file per drop (coalesce) — the declared scenario is exactly
      // two "arriving" batches, and with maxFilesPerTrigger=1 each FILE
      // is a micro-batch: an input big enough to split into several
      // part files per drop would multiply the batch count, and the
      // stream-stream joins' batch oracle holds precisely because
      // cross-drop matches ride the watermark's one-batch update lag —
      // a THIRD batch legitimately evicts the first's join state (the
      // sf1 gate caught exactly this: at 1M events each drop split
      // into multiple parts and the engine correctly dropped what the
      // 2-batch oracle still counted)
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(in.resolve("b0").toString)
      ev.filter(col("event_id") % 2 =!= 0).coalesce(1)
        .write.parquet(in.resolve("b1").toString)
      in
    }

  /** Per-user open-session state for [[stSessionize]] (top-level so Spark
    * can derive its Encoder). */
  case class SessState(n: Long, startMs: Long, lastMs: Long)

  /** st_watermark: 10-minute tumbling counts with a 5-minute watermark.
    * A late event is only DROPPED once the watermark has passed its
    * window's END (append-mode finalization) — an event merely below the
    * watermark but inside a still-open window is accepted. The batches
    * below stage exactly that: the 00:03 event arrives when the watermark
    * is 00:20 ≥ its window end 00:10, so the finalized 00:00 window stays
    * at 2. */
  def stWatermark: QFn = stWatermarkWith("st_watermark_sink")

  private def stWatermarkWith(sink: String): QFn = (s, _) => {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .count()
      // ntz projection: the finalized rows are a fixed table, so the
      // RocksDB twin can be hash-checked against a VALUES oracle
      .select(col("window.start").cast("timestamp_ntz").as("w_start"),
        col("k"), col("count").as("n"))
    val q = withConfs(s, StatePartitions -> "4")(counts.writeStream
      .format("memory").queryName(sink).outputMode("append").start())
    try {
      input.addData((ts(1), "a"), (ts(2), "a"), (ts(11), "b")) // watermark → 00:06
      q.processAllAvailable()
      input.addData((ts(25), "b")) // watermark → 00:20; finalizes w[00:00] and w[00:10]
      q.processAllAvailable()
      input.addData((ts(3), "a"), // LATE: w end 00:10 < watermark 00:20 ⇒ dropped
        (ts(40), "c")) // watermark → 00:35; finalizes w[00:20]
      q.processAllAvailable()
    } finally q.stop()
    s.table(sink).orderBy("w_start", "k")
  }

  /** st_watermark_rocksdb: the SAME watermarked windowed aggregation on
    * the RocksDB state store provider — windowed-agg state (per open
    * window × key) is the store that grows widest on a 100 TB/day stream,
    * so off-heap state matters even more here than for dedup. The inputs
    * are deterministic literals, so the finalized windows are a fixed
    * table and the run is EXACT-ROWS oracle-checked (like
    * st_dedup_rocksdb), not merely rows>0. */
  def stWatermarkRocks: QFn = (s, d) => {
    withConfs(s, RocksProvider)(
      stWatermarkWith("st_watermark_rocks_sink")(s, d))
  }

  private val RocksProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** st_dedup: dropDuplicatesWithinWatermark on event ids — duplicates in
    * later micro-batches (within the watermark) are suppressed. */
  def stDedup: QFn = stDedupWith("st_dedup_sink")

  private def stDedupWith(sink: String): QFn = (s, _) => {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = input.toDF().toDF("ts", "event_id", "payload")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = withConfs(s, StatePartitions -> "4")(deduped.writeStream
      .format("memory").queryName(sink).outputMode("append").start())
    try {
      input.addData((ts(1), 1L, "first"), (ts(2), 2L, "first"))
      q.processAllAvailable()
      input.addData((ts(3), 1L, "dup-dropped"), (ts(4), 3L, "first"))
      q.processAllAvailable()
    } finally q.stop()
    s.table(sink).select("event_id", "payload").orderBy("event_id")
  }

  /** st_dedup_rocksdb: the SAME stateful dedup on Spark's built-in RocksDB
    * state store provider — the configuration that keeps executor heap
    * flat when keyed state outgrows memory (an unbounded 100 TB/day
    * stream's store; the default HDFS-backed store holds state on-heap).
    * The provider is pinned at query start, so the conf scope covers
    * exactly this stream; results must be identical to [[stDedup]], which
    * the oracle (fixed expected rows) and StreamingSpec both check. */
  def stDedupRocks: QFn = (s, d) => {
    withConfs(s, RocksProvider)(
      stDedupWith("st_dedup_rocks_sink")(s, d))
  }

  /** st_sessionize: custom keyed state via flatMapGroupsWithState — the
    * extension point for stateful logic the built-in operators can't
    * express. Per-user sessions close after a 10-minute event-time gap
    * (watermark-driven timeout), emitting (user, n_events, start, end).
    * State per key is O(1) and reclaimed on timeout — the property that
    * keeps an unbounded 100 TB/day stream's state store bounded. */
  def stSessionize: QFn = (s, _) => {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val input = MemoryStream[(Timestamp, String)]
    val sessions = input.toDS().toDF("ts", "user")
      .withWatermark("ts", "5 minutes")
      .as[(Timestamp, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[SessState, (String, Long, Timestamp, Timestamp)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, events, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator((user, st.n, new Timestamp(st.startMs), new Timestamp(st.lastMs)))
          } else {
            val ts = events.map(_._1.getTime).toSeq
            val prev = state.getOption.getOrElse(SessState(0L, ts.min, ts.min))
            val next = SessState(prev.n + ts.size, math.min(prev.startMs, ts.min),
              math.max(prev.lastMs, ts.max))
            state.update(next)
            // close the session 10 min of event time after the last event
            state.setTimeoutTimestamp(next.lastMs + 10 * 60 * 1000)
            Iterator.empty
          }
      }
      .toDF("user", "n_events", "s_start", "s_end")
    val q = withConfs(s, StatePartitions -> "4")(sessions.writeStream
      .format("memory").queryName("st_sessionize_sink").outputMode("append").start())
    try {
      input.addData((ts(1), "u1"), (ts(3), "u1"), (ts(2), "u2"))
      q.processAllAvailable()
      // event time jumps far ahead ⇒ watermark passes both users' timeouts
      input.addData((ts(50), "u3"))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 02:00:00"), "u3"))
      q.processAllAvailable()
    } finally q.stop()
    // ntz projection: the finalized sessions are a fixed table in UTC wall
    // time, so the exact-rows oracle can state them as TIMESTAMP literals
    s.table("st_sessionize_sink")
      .select(col("user"), col("n_events"),
        col("s_start").cast("timestamp_ntz").as("s_start"),
        col("s_end").cast("timestamp_ntz").as("s_end"))
      .orderBy("user")
  }

  /** st_file_source: production-shaped directory ingestion — readStream
    * over a parquet folder (new files discovered per micro-batch, exactly
    * how a landing zone is tailed at scale), aggregated with
    * Trigger.AvailableNow so the query drains all pending input and stops.
    * Input is the testdata events table re-written as two "arriving"
    * batches. */
  def stFileSource: QFn = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    val base = Fixtures.scratch(s, "st_files")
    val ev = graft.Tables.events(s, d).select("event_id", "event_type", "value")
    // two separate landings, as if written by an upstream producer
    val in = landedEvents(s, d, Seq("event_id", "event_type", "value"))
    val stream = s.readStream
      .schema(ev.schema)
      .option("recursiveFileLookup", "true")
      .parquet(in.toString)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    val q = stream.writeStream
      .format("memory").queryName("st_file_source_sink").outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    try q.awaitTermination() finally q.stop()
    s.table("st_file_source_sink").orderBy("event_type")
  }

  /** st_catalog_sink: streaming ingestion INTO the catalog — each
    * micro-batch lands as parquet and commits one append snapshot via
    * foreachBatch, so downstream batch readers see micro-batch-atomic
    * table growth with full snapshot history/time travel. Batch ids make
    * the landing write idempotent on retry, and a replay guard skips
    * re-registering a batch whose files a snapshot already carries (the
    * checkpoint alone can't close that window: a retry can fire after the
    * commit succeeded but before the checkpoint recorded it). */
  def stCatalogSink: QFn = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    val base = Fixtures.scratch(s, "st_sink")
    val ev = graft.Tables.events(s, d).select("event_id", "event_type", "value")
    val in = landedEvents(s, d, Seq("event_id", "event_type", "value"))
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    cat.createTable("stream", "events_live", ev.schema)
    val q = s.readStream
      .schema(ev.schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1") // force >1 micro-batch ⇒ >1 snapshot
      .parquet(in.toString)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val dir = base.resolve("landed").resolve(s"batch-$id")
        // replay guard FIRST: if this batch is retried AFTER registerFiles
        // committed but BEFORE the checkpoint recorded it, a re-run of the
        // landing write would regenerate part files under new job-UUID
        // names and DELETE the files the committed snapshot references —
        // so when a snapshot already carries files from this batch's
        // landing dir, skip the write AND the registration
        val already = cat.snapshots("stream", "events_live").exists(
          _.addedFiles.exists(_.path.startsWith(dir.toString + java.io.File.separator)))
        if (!already) {
          batch.write.mode("overwrite").parquet(dir.toString) // idempotent per id
          cat.registerFiles("stream", "events_live", Seq(dir))
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    try q.awaitTermination() finally q.stop()
    val nSnapshots = cat.snapshots("stream", "events_live").size.toLong
    cat.readTable(s, "stream", "events_live")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
      .withColumn("n_snapshots_ge_2", lit(nSnapshots >= 2))
      .orderBy("event_type")
  }

  /** st_dedup_catalog: streaming INCREMENTAL dedup into the catalog — the
    * production ingestion loop end-to-end: each micro-batch first
    * self-dedups (first doc_id per content hash), then anti-joins the
    * HASH INDEX formed by the already-committed table state, and only the
    * accepted rows land as a new append snapshot. Exactly-once across
    * batches falls out of the snapshot log: a duplicate arriving any
    * number of micro-batches later hits the index and is dropped. At
    * 100 TB the index side is a 16-byte hash column of the sink table —
    * bucket it by hash and every per-batch anti-join co-locates. Inputs
    * are deterministic literals ⇒ exact-rows oracle (DuckDB computes the
    * same md5 values). */
  def stDedupCatalog: QFn = (s, _) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = Fixtures.scratch(s, "st_dedup_cat")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val input = MemoryStream[(Long, String)]
    val hashed = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    cat.createTable("stream", "docs_dedup", hashed.schema)
    val q = withConfs(s, StatePartitions -> "4")(hashed.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val ss = batch.sparkSession
        val hist = cat.readTable(ss, "stream", "docs_dedup")
          .select("h").distinct()
        val w = Window.partitionBy("h").orderBy("doc_id")
        val accepted = batch
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .join(hist, Seq("h"), "left_anti")
          .select("doc_id", "text", "h") // restore declared column order
        if (!accepted.isEmpty) {
          val dir = base.resolve("landed").resolve(s"batch-$id")
          accepted.write.mode("overwrite").parquet(dir.toString)
          cat.registerFiles("stream", "docs_dedup", Seq(dir))
        }
        ()
      }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start())
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha")) // 3 dups 1 in-batch
      q.processAllAvailable()
      input.addData((4L, "beta"), (5L, "gamma")) // 4 dups 2 across batches
      q.processAllAvailable()
      input.addData((6L, "alpha")) // still remembered two batches later
      q.processAllAvailable()
    } finally q.stop()
    cat.readTable(s, "stream", "docs_dedup")
      .select("doc_id", "text", "h").orderBy("doc_id")
  }

  import graft.queries.Extensions.{docTokenSets, docBandRows}

  /** The per-micro-batch NEAR-dup screen: fresh (already exact-deduped)
    * batch rows against the PRECOMPUTED committed-side index — `sigsHist`
    * (doc_id, band) for candidate generation and `toksHist` (doc_id,
    * toks) for the exact-Jaccard gate. Only the BATCH side is tokenized
    * and MinHashed (both index tables lack a text column, so re-deriving
    * history signatures inside the batch plan is structurally
    * impossible); the committed side contributes two plain scans, joined
    * on `band` and on the broadcast candidate edges. Per-batch cost is
    * O(batch + collisions) regardless of committed-set size — at 100 TB
    * the sigs table is bucketed on band (the L31 layout) and each batch
    * joins only its colliding buckets. Returns the rejected doc_ids. */
  private[graft] def neardupScreen(fresh: DataFrame, sigsHist: DataFrame,
      toksHist: DataFrame): DataFrame = {
    val freshSets = docTokenSets(fresh).localCheckpoint()
    val cand = docBandRows(freshSets).select(col("doc_id").as("d1"), col("band"))
      .join(sigsHist.select(col("doc_id").as("d2"), col("band")), "band")
      .select("d1", "d2").distinct()
    graft.queries.Extensions
      .verifyEdgesJaccardSides(freshSets, toksHist, cand, 7, 10)
      .select(col("d1").as("doc_id")).distinct()
  }

  /** st_neardup_catalog: streaming incremental NEAR-dup into the catalog
    * — the streaming face of `q_neardup_incremental` (SURVEY L39) and the
    * fuzzy upgrade of [[stDedupCatalog]]: each micro-batch (1) exact
    * self-dedups (first doc_id per content hash), (2) drops exact matches
    * of committed rows via the hash index, then (3) drops NEAR-dups of
    * the committed set via [[neardupScreen]] (every committed row is a
    * representative by construction, so the index never holds a dup
    * clique), and only then lands an append snapshot. The committed-side
    * index is PERSISTED: each accepted batch also appends its banded
    * signatures to `docs_neardup_sigs` and its token sets to
    * `docs_neardup_toks`, so the next batch's plan joins precomputed
    * index tables instead of re-tokenizing and re-MinHashing the whole
    * committed history — per-batch work stays O(batch + collisions) as
    * the table grows. (At scale the toks table would store 64-bit token
    * hashes rather than strings; Jaccard over hashed tokens is
    * equivalent up to hash collisions.) A near-duplicate arriving any
    * number of batches later still hits the index. Commit order is data
    * → sigs → toks: a crash between commits leaves accepted rows
    * UNDER-indexed (a later near-dup might land, which the
    * `etl_neardup_maintain` pass collapses), never rows rejected against
    * a phantom. Within one micro-batch only EXACT dups collapse
    * (near-dup pairs that arrive together both land — micro-batching
    * trades event-at-a-time ordering for throughput;
    * `etl_neardup_maintain` collapses them). Inputs are deterministic
    * literals ⇒ exact-rows oracle; the committed rows PROVE the near-dup
    * path fired (a missed rejection would land an extra row and break
    * the oracle). */
  def stNeardupCatalog: QFn = (s, _) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = Fixtures.scratch(s, "st_neardup_cat")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val input = MemoryStream[(Long, String)]
    val hashed = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    cat.createTable("stream", "docs_neardup", hashed.schema)
    // index side-table schemas derived from the same transforms that
    // will populate them (a one-row batch prototype, never executed)
    val proto = Seq((0L, "x")).toDF("doc_id", "text")
    cat.createTable("stream", "docs_neardup_sigs",
      docBandRows(docTokenSets(proto)).schema)
    cat.createTable("stream", "docs_neardup_toks", docTokenSets(proto).schema)
    val q = withConfs(s, StatePartitions -> "4")(hashed.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val ss = batch.sparkSession
        val hist = cat.readTable(ss, "stream", "docs_neardup")
        val sigsHist = cat.readTable(ss, "stream", "docs_neardup_sigs")
        val toksHist = cat.readTable(ss, "stream", "docs_neardup_toks")
        val w = Window.partitionBy("h").orderBy("doc_id")
        val fresh = batch
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .join(hist.select("h").distinct(), Seq("h"), "left_anti")
          .localCheckpoint() // feeds the screen AND the landing
        val rejected = neardupScreen(fresh, sigsHist, toksHist)
        val accepted = fresh.join(rejected, Seq("doc_id"), "left_anti")
          .select("doc_id", "text", "h")
          .localCheckpoint() // one compute feeds data + sigs + toks writes
        if (!accepted.isEmpty) {
          val dir = base.resolve("landed").resolve(s"batch-$id")
          accepted.write.mode("overwrite").parquet(dir.resolve("data").toString)
          val aSets = docTokenSets(accepted).localCheckpoint()
          docBandRows(aSets).write.mode("overwrite")
            .parquet(dir.resolve("sigs").toString)
          aSets.write.mode("overwrite").parquet(dir.resolve("toks").toString)
          cat.registerFiles("stream", "docs_neardup", Seq(dir.resolve("data")))
          cat.registerFiles("stream", "docs_neardup_sigs", Seq(dir.resolve("sigs")))
          cat.registerFiles("stream", "docs_neardup_toks", Seq(dir.resolve("toks")))
        }
        ()
      }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start())
    // ~19-token texts, one-word edits ⇒ Jaccard 18/20 = 0.9, above the
    // 0.7 gate; the 4×4 banding collides such pairs with p ≈ 0.986 and
    // these CONCRETE pairs are verified to collide (the oracle would go
    // red if either rejection failed to fire)
    val tA = "the quick brown fox jumps over the lazy dog while rain falls on the quiet village green at dawn"
    val tB = "spark executors shuffle partitioned data across the cluster while the driver plans stages and tracks lineage graphs"
    val tC = "a completely separate third document discusses parquet footers column statistics and predicate pushdown for efficient scans"
    val tA2 = tA.replace("dawn", "mist")   // near-dup of tA
    val tC2 = tC.replace("efficient", "fast") // near-dup of tC
    try {
      input.addData((1L, tA), (2L, tB), (3L, tA)) // 3: exact dup in-batch
      q.processAllAvailable()
      input.addData((4L, tA2), (5L, tC)) // 4: NEAR-dup of committed 1
      q.processAllAvailable()
      input.addData((6L, tC2), (7L, tB)) // near-dup + exact, batches later
      q.processAllAvailable()
    } finally q.stop()
    cat.readTable(s, "stream", "docs_neardup")
      .select("doc_id", "text", "h").orderBy("doc_id")
  }

  /** st_vec_index_maintain: streaming maintenance of the IVF+PQ vector
    * index — the lifecycle piece between one-shot builds
    * (`q_vec_knn_ivfpq`) and compaction (`etl_neardup_maintain` for the
    * text index): embeddings arrive as parquet drops in a landing zone,
    * and each micro-batch pays ONE encode scan of the batch before an
    * append snapshot of cell-range-clustered code files
    * ([[graft.operators.IvfPq.appendCodes]]). The model halves are
    * trained and committed ONCE up front ([[graft.operators.IvfPq
    * .initIndex]] — the FAISS deployment contract: the index grows, the
    * codebooks don't retrain per append; drift is a periodic rebuild,
    * not a streaming concern). The manifest prunes probes uniformly
    * across snapshots, so searches stay file-level as the index grows.
    *
    * The RESULT is the proof: after the drain, the SHARED
    * [[graft.operators.IvfPq.search]] runs over the maintained index
    * and must answer byte-identically to the one-shot build — same
    * observed-pin oracle as q_vec_knn_ivfpq. A missed batch, a double
    * append (checkpoint replay), an encode drift, or a pruning bug over
    * multi-snapshot file layouts all surface as a changed top-10. */
  /** The PRISTINE pre-stream state of [[stVecIndexMaintain]] — the
    * trained-once model tables (cells/books commits) plus the landing
    * drops — built once per (JVM, sfDir) and CLONED per run
    * ([[Fixtures.cloneWarehouse]]; the stream's appends
    * mutate the clone). The trained halves and the probe row ride along
    * as driver objects. The measured work — three micro-batch
    * tokenize-free encode+append commits and the probe — is unchanged. */
  private case class VecMaintainFx(wh: java.nio.file.Path,
                                   in: java.nio.file.Path,
                                   cents: Seq[Seq[Float]],
                                   model: graft.operators.ProductQuantizer.Model,
                                   probeId: Long, probeVec: Seq[Float])

  def stVecIndexMaintain: QFn = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.{IvfPq, ProductQuantizer}
    val base = Fixtures.scratch(s, "st_ivfpq")
    val emb = graft.Tables.embeddings(s, d).select("vec_id", "embedding")
    val fx = Fixtures.memo(("vecMaintainFx", d)) {
      val fxBase = Fixtures.scratch(s, "st_ivfpq_fx")
      val c = new graft.catalog.GraftCatalog(fxBase.resolve("wh").toString)
      // landing zone: the corpus "arrives" as three one-file producer
      // drops (coalesced so maxFilesPerTrigger=1 gives exactly 3
      // micro-batches — the multi-snapshot layout the probe must prune)
      val inDir = fxBase.resolve("in")
      (0 until 3).foreach { i =>
        emb.filter(pmod(col("vec_id"), lit(3)) === i).coalesce(1)
          .write.parquet(inDir.resolve(s"b$i").toString)
      }
      val (cents, model) = IvfPq.initIndex(s, c, "vec", "emb", emb)
      val (pid, pvec) = ProductQuantizer.sampleRows(emb).head
      VecMaintainFx(fxBase.resolve("wh"), inDir, cents, model, pid, pvec)
    }
    Fixtures.cloneWarehouse(s, fx.wh, base.resolve("wh"))
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val in = fx.in
    val (cents, model) = (fx.cents, fx.model)
    val stream = s.readStream
      .schema(emb.schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString)
    val q = withConfs(s, StatePartitions -> "4")(stream.writeStream
      // IDEMPOTENT on checkpoint replay: foreachBatch is at-least-once,
      // and a blind appendCodes would double-append a replayed batch's
      // vectors into the committed index forever — each batch commits
      // through its batch-id-keyed directory instead
      // ([[graft.operators.IvfPq.appendCodesBatch]]), the same contract
      // as st_vec_augment's sink
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          IvfPq.appendCodesBatch(batch.sparkSession, cat, "vec", "emb",
            cents, model, batch, id)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start())
    try q.awaitTermination() finally q.stop()
    IvfPq.search(s, cat, "vec", "emb", emb, fx.probeId, fx.probeVec)
  }

  /** st_text_index_maintain (L75): streaming maintenance of the
    * committed INVERTED TEXT INDEX — the sparse twin of
    * st_vec_index_maintain: documents arrive as parquet drops in a
    * landing zone, and each micro-batch pays ONE tokenize pass before
    * an idempotent batch-tagged append of range-clustered postings plus
    * its stats delta ([[graft.operators.TextIndex.appendDocsBatch]] —
    * replay detection per TABLE against the full snapshot log, so a
    * crash between the two commits replays only the missing half; a
    * doubled stats delta would silently corrupt every later BM25
    * score).
    *
    * The RESULT is the proof, and it is a REAL DuckDB oracle (not a
    * pin): after the drain, the SHARED indexed-BM25 serve plan
    * ([[graft.queries.Extensions.bm25IndexedTop10]]) runs over the
    * maintained index and must hash-match the scan-based BM25 replay
    * over the raw corpus. A missed batch shifts df/N and changes
    * scores; a double append doubles them; a clustering or pruning bug
    * over the multi-snapshot layout drops candidates — all surface in
    * the top-10. In-query require: the summed stats deltas equal a
    * direct corpus aggregate (N and Σlen exact across 3 snapshots). */
  /** Landing drops for [[stTextIndexMaintain]], one per (JVM, sfDir) —
    * the landings convention (input only; the catalog itself starts
    * EMPTY per run, so the measured tokenize+append micro-batches are
    * unchanged). The direct corpus aggregate the stats gate compares
    * against is recomputed inside every measured run (round-16 verdict:
    * memoizing that result crossed the measurement boundary). */
  def stTextIndexMaintain: QFn = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.TextIndex
    val base = Fixtures.scratch(s, "st_textidx")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val tok = graft.queries.Extensions.tokensExpr
    val docs = graft.Tables.documents(s, d).select("doc_id", "text")
    val in = Fixtures.memo(("textMaintainFx", d)) {
      val fxBase = Fixtures.scratch(s, "st_textidx_fx")
      val inDir = fxBase.resolve("in")
      (0 until 3).foreach { i =>
        docs.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1)
          .write.parquet(inDir.resolve(s"b$i").toString)
      }
      inDir
    }
    // the stats gate's declared comparison computation — a direct corpus
    // aggregate — charged to every measured run
    val expect = docs.select(expr(s"size($tok)").as("len"))
      .agg(count(lit(1)), sum(col("len"))).collect()(0)
    val (expectDocs, expectLen) = (expect.getLong(0), expect.getLong(1))
    val q = withConfs(s, StatePartitions -> "4")(s.readStream
      .schema(docs.schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          TextIndex.appendDocsBatch(batch.sparkSession, cat, "txt", "docs",
            batch, tok, id)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start())
    try q.awaitTermination() finally q.stop()
    val stats = TextIndex.statsRow(s, cat, "txt", "docs").collect()(0)
    require(stats.getLong(0) == expectDocs && stats.getLong(1) == expectLen,
      s"streamed stats deltas (${stats.getLong(0)}, ${stats.getLong(1)}) " +
        s"!= direct corpus aggregate ($expectDocs, $expectLen)")
    graft.queries.Extensions.bm25IndexedTop10(s, cat)
  }

  /** st_vec_augment (L63): STREAMING retrieval augmentation — the
    * production loop that attaches, to every newly arriving vector, its
    * nearest neighbor from the committed index (RAG corpus enrichment,
    * incremental NN-graph growth). The corpus (ids ≢ 7 mod 10) is
    * indexed ONCE up front ([[graft.operators.IvfPq.initIndex]] +
    * one appendCodes — the codebooks-don't-retrain contract); the batch
    * (ids ≡ 7 mod 10) arrives as two landing drops, and each micro-batch
    * pays one [[graft.operators.IvfPq.augmentTop1]] pass: per-ROW cell
    * ranking (a Spark expression — a driver-side probe per query would
    * not scale), cell-keyed candidate join against the committed codes,
    * exact re-rank, top-1 per query via a query-partitioned window,
    * appended to the augmented output.
    *
    * Output = three count invariants over the augmented rows, each equal
    * to the batch cardinality DuckDB derives INDEPENDENTLY from the raw
    * table — a replayed/double-appended micro-batch breaks
    * `augmented_rows`, a dropped batch breaks it the other way, a
    * missing-neighbor query breaks `distinct_queries`, and batch/self
    * contamination in the candidates breaks `neighbors_from_corpus`.
    * Recall vs the brute exact top-1 is pinned in StreamingSpec. */
  /** One committed-index + landing fixture per (JVM, sfDir) for
    * [[stVecAugment]] — the landings / vecRebuildFx convention: the
    * scenario's corpus is "indexed ONCE up front" and the stream only
    * READS the index (augmentTop1 commits nothing), so rebuilding the
    * catalog per bench iteration was fixture tax, not streaming work.
    * The landing drops are INPUT only; each run keeps its own fresh
    * checkpoint + output dirs, so the micro-batch sequence and the
    * augmented rows are identical to a fresh fixture. */
  def stVecAugment: QFn = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.IvfPq
    val base = Fixtures.scratch(s, "st_augment")
    val emb = graft.Tables.embeddings(s, d).select("vec_id", "embedding")
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 7)
    val batchSide = emb.filter(pmod(col("vec_id"), lit(10)) === 7)
    val (cat, in) = Fixtures.memo(("augmentFx", d)) {
      val fxBase = Fixtures.scratch(s, "st_augment_fx")
      val c = new graft.catalog.GraftCatalog(fxBase.resolve("wh").toString)
      val (cents, model) = IvfPq.initIndex(s, c, "vec", "emb", corpus)
      IvfPq.appendCodes(s, c, "vec", "emb", cents, model, corpus)
      val inDir = fxBase.resolve("in")
      Seq(7L, 17L).zipWithIndex.foreach { case (m, i) =>
        batchSide.filter(pmod(col("vec_id"), lit(20)) === m).coalesce(1)
          .write.parquet(inDir.resolve(s"b$i").toString)
      }
      (c, inDir)
    }
    val out = base.resolve("aug")
    val q = withConfs(s, StatePartitions -> "4")(s.readStream
      .schema(emb.schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // widen=1.5 over the k/4 policy: top-1 retrieval is stricter
        // than top-10 overlap (one specific vector must be inside the
        // probed set, not any 8 of 10) — the same breadth compensation
        // the filtered search uses; measured 0.74 recall at the bare
        // policy on the 8-cell fixture, ≥0.8 widened.
        // The sink is IDEMPOTENT on checkpoint replay: each micro-batch
        // overwrites its OWN batch-id-keyed directory, so a crash-retry
        // rewrites the same files instead of double-appending (a blind
        // global append would corrupt the augmented_rows invariant on
        // the one failure mode foreachBatch actually has)
        if (!batch.isEmpty)
          IvfPq.augmentTop1(batch.sparkSession, cat, "vec", "emb",
            corpus, batch, widen = 1.5)
            .write.mode("overwrite").parquet(out.resolve(s"b$id").toString)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start())
    try q.awaitTermination() finally q.stop()
    s.read.option("recursiveFileLookup", "true").parquet(out.toString)
      .agg(count(lit(1)).as("c1"),
        countDistinct(col("query_id")).as("c2"),
        sum(when(pmod(col("neighbor_id"), lit(10)) =!= 7, 1L).otherwise(0L))
          .as("c3"))
      .selectExpr(
        """stack(3,
          |  'augmented_rows', c1,
          |  'distinct_queries', c2,
          |  'neighbors_from_corpus', c3) AS (metric, n)""".stripMargin)
      .orderBy("metric")
  }

  /** st_catalog_source: streaming read FROM the catalog — the Iceberg
    * `readStream` surface ([[graft.catalog.GraftCatalog.streamTable]]):
    * each append snapshot's files flow into a running (or restarted)
    * stream exactly once, because Spark's file-source checkpoint logs
    * processed files. The proof runs two AvailableNow drains over the SAME
    * checkpoint: drain 1 sees exactly snapshot 1's rows, a new append
    * commits between drains, drain 2 sees exactly the delta; afterwards a
    * DML (overwrite) snapshot makes the table non-streamable — refused,
    * matching readIncremental's append-only contract. Non-oracle: DuckDB
    * has no streaming semantics. */
  def stCatalogSource: QFn = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    val base = Fixtures.scratch(s, "st_source")
    val ev = graft.Tables.events(s, d).select("event_id", "event_type", "value")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    def land(df: DataFrame, dir: String) = {
      val p = base.resolve(dir); df.write.parquet(p.toString); p
    }
    cat.createTable("stream", "events_feed", ev.schema)
    cat.registerFiles("stream", "events_feed",
      Seq(land(ev.filter(col("event_id") % 2 === 0), "b0"))) // snapshot 1
    val seen = collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = {
      val q = cat.streamTable(s, "stream", "events_feed")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          seen += batch.count(); () }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
      try q.awaitTermination() finally q.stop()
    }
    drain()
    val run1 = seen.sum
    // a new append while the consumer is down; snapshot 2
    cat.registerFiles("stream", "events_feed",
      Seq(land(ev.filter(col("event_id") % 2 =!= 0), "b1")))
    seen.clear()
    drain() // same checkpoint: exactly the delta, nothing reprocessed
    val run2 = seen.sum
    val half = ev.filter(col("event_id") % 2 === 0).count()
    val total = ev.count()
    // DML history ends streamability (append-only changelog contract)
    graft.etl.Merge.deleteWhere(s, cat, "stream", "events_feed",
      col("event_id") === 0)
    val refused = scala.util.Try(
      cat.streamTable(s, "stream", "events_feed")).isFailure
    import s.implicits._
    Seq(
      ("run1_snapshot1_rows", run1, run1 == half),
      ("run2_delta_only", run2, run2 == total - half),
      ("exactly_once_total", run1 + run2, run1 + run2 == total),
      ("dml_refused", 1L, refused))
      .toDF("phase", "n", "invariant_ok")
      .orderBy("phase")
  }

  /** st_changelog: the row-level CDC changelog as a STRUCTURED STREAMING
    * source ([[graft.catalog.GraftCatalog.streamChangelog]]) — the
    * surface that completes L76/L80 the way st_catalog_source completed
    * the append path: a DML-carrying table (the exact 5-snapshot history
    * meta_changelog pins — append, position delete, equality delete,
    * upsert, append) streams as explicit insert/delete rows, and the
    * downstream sync is a RUNNING query instead of a batch fold.
    * Exactly-once falls out of the snapshot log: each snapshot's CDC
    * rows materialize write-once under the changelog view and the file
    * source's checkpoint log never re-serves them. The proof mirrors
    * meta_changelog_sync's two waves, but across two AvailableNow drains
    * over the SAME checkpoint with the consumer DOWN while wave 2's DML
    * commits — and applies the fold per `_change_ordinal` inside
    * foreachBatch. After each wave the in-query require compares the
    * mirror to the source AS OF the wave boundary (time travel as the
    * independent witness, multiset-exact both ways). Output: the same
    * per-wave counts as the batch twin — a literal oracle. */
  /** The pristine wave-1 history (s1 append, s2 position delete, s3
    * equality delete — the same prefix [[graft.queries.Meta]]'s
    * changelogFixture pins) with its changelog view synced through s3,
    * one per (JVM, sfDir), cloned per run (the cloneWarehouse
    * convention): wave 1's staging commits are fixture, while the
    * MEASURED region keeps both drains, the wave-2 commits (which the
    * scenario requires to land while the consumer is down), their view
    * sync, and every gate. */
  def stChangelog: QFn = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    val base = Fixtures.scratch(s, "st_chg")
    val region = graft.Tables.region(s, d)
    def land(df: DataFrame, dir: String) = {
      val p = base.resolve(dir); df.coalesce(1).write.parquet(p.toString); p
    }
    val fxWh = Fixtures.memo(("stChangelogFx", d)) {
      val fxBase = Fixtures.scratch(s, "st_chg_fx")
      val c = new graft.catalog.GraftCatalog(fxBase.resolve("wh").toString)
      c.createNamespace("nyc")
      region.coalesce(1).write.parquet(fxBase.resolve("r0").toString)
      c.createTable("nyc", "chg", region.schema)
      c.registerFiles("nyc", "chg", Seq(fxBase.resolve("r0")))     // s1
      graft.etl.Merge.deleteWherePos(s, c, "nyc", "chg",
        col("r_regionkey") === 0)                                  // s2
      graft.etl.Merge.deleteWhereMor(s, c, "nyc", "chg",
        col("r_regionkey") === 1, Seq("r_regionkey"))              // s3
      c.syncChangelogView(s, "nyc", "chg")
      fxBase.resolve("wh")
    }
    Fixtures.cloneWarehouse(s, fxWh, base.resolve("wh"))
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    var mirror = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], region.schema)
    val waveRows =
      collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    def drain(wave: Int): Unit = {
      var nIns = 0L
      var nDel = 0L
      val q = cat.streamChangelog(s, "nyc", "chg")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = batch.localCheckpoint()
          // apply snapshot by snapshot in commit order — the fold the
          // encoding defines (mirror ∪ inserts ∖ deletes per snapshot,
          // so a same-commit delete+insert pair sees the mirror state
          // of ITS boundary); a drain's batch may carry several
          // snapshots, the bounded driver fetch is their id list.
          // The per-snapshot folds CHAIN LAZILY and checkpoint once per
          // batch, and the wave's insert/delete tallies ride one grouped
          // count over the pinned batch (round-17, guide §1.2: was one
          // checkpoint job + two count jobs PER ordinal) — the fold
          // order, and so the multiset result, is unchanged.
          val ords = b.select("_change_ordinal").distinct()
            .collect().map(_.getLong(0)).sorted
          var m = mirror
          ords.foreach { o =>
            val sn = b.filter(col("_change_ordinal") === o)
            val ins = sn.filter(col("_change_type") === "insert")
              .drop("_change_type", "_change_ordinal")
            val del = sn.filter(col("_change_type") === "delete")
              .drop("_change_type", "_change_ordinal")
            m = m.unionByName(ins).exceptAll(del)
          }
          mirror = m.localCheckpoint()
          val tc = b.groupBy("_change_type").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          nIns += tc.getOrElse("insert", 0L)
          nDel += tc.getOrElse("delete", 0L)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
      try q.awaitTermination() finally q.stop()
      // time-travel witness: the mirror must equal the source as of the
      // wave's last snapshot, multiset-exactly — ONE action (the
      // meta_changelog_sync pattern: unit weights, group by the full
      // row, compare per-row multiplicities; groupBy is null-safe like
      // exceptAll, and Σ mirror-weights is the mirror row count)
      val boundary = cat.snapshots("nyc", "chg").map(_.id).max
      val expected = cat.readTable(s, "nyc", "chg", asOf = Some(boundary))
      val regionCols = region.columns.toSeq
      val eq = mirror.select(col("*"), lit(1L).as("__m"), lit(0L).as("__e"))
        .unionByName(
          expected.select(col("*"), lit(0L).as("__m"), lit(1L).as("__e")))
        .groupBy(regionCols.map(col): _*)
        .agg(sum(col("__m")).as("nm"), sum(col("__e")).as("ne"))
        .agg(coalesce(sum(col("nm")), lit(0L)).as("mirror_rows"),
          coalesce(max(when(col("nm") =!= col("ne"), 1L).otherwise(0L)),
            lit(0L)).as("mismatch"))
        .head()
      require(eq.getLong(1) == 0L,
        s"wave $wave: streamed mirror diverged from the source as of " +
          s"snapshot $boundary")
      waveRows += ((wave, nIns, nDel, eq.getLong(0)))
    }
    drain(1)
    // wave 2 commits while the consumer is DOWN: the upsert + the append
    graft.etl.Merge.mergeIntoMor(s, cat, "nyc", "chg",
      region.filter(col("r_regionkey") === 2)
        .withColumn("r_name", concat(col("r_name"), lit("-v2"))),
      Seq("r_regionkey"))                                            // s4
    import s.implicits._
    cat.registerFiles("nyc", "chg", Seq(land(
      region.limit(0).unionByName(
        Seq((9, "NEWLAND")).toDF("r_regionkey", "r_name")
          .select(col("r_regionkey").cast("int"), col("r_name"))),
      "r5")))                                                        // s5
    drain(2) // same checkpoint: exactly the delta, nothing re-served
    waveRows.toSeq.toDF("wave", "n_inserts", "n_deletes", "mirror_rows")
      .orderBy("wave")
  }

  /** st_join: watermarked STREAM-STREAM self-join — click→purchase
    * attribution (same user, purchase within 10 minutes of the click),
    * H-family's hardest shape. Both sides carry a watermark and the join
    * condition bounds event time on both, so the state store retains each
    * side only inside the watermark horizon — the property that keeps the
    * operator viable on an unbounded stream. Inner-join emission does not
    * wait on the watermark, so draining the landing zone with AvailableNow
    * yields exactly the batch join — proven by the DuckDB oracle. */
  def stJoin: QFn = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    val base = Fixtures.scratch(s, "st_join")
    val ev = graft.Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value", "ts")
    val in = landedEvents(s, d, Seq("event_id", "user_id", "event_type", "value", "ts"))
    val src = s.readStream
      .schema(ev.schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1") // matches must form ACROSS micro-batches
      .parquet(in.toString)
    // watermarks require TIMESTAMP (not NTZ); the session is UTC so the
    // cast preserves wall-clock values and the oracle's naive comparison
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").cast("timestamp").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("value").as("p_value"), col("ts").cast("timestamp").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
    val q = withConfs(s, StatePartitions -> "8")(joined.writeStream
      .format("memory").queryName("st_join_sink").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start())
    try q.awaitTermination() finally q.stop()
    s.table("st_join_sink")
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        round(col("p_value"), 2).as("p_value"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** st_join_outer: LEFT-OUTER stream-stream join — the semantics inner
    * joins don't exercise: an unmatched click may only be null-extended
    * once the watermark PROVES no future purchase can match
    * (wm > click_ts + 10 min), because emitting earlier could contradict a
    * late purchase. The invariants verify both directions against the
    * batch join: no phantom null-extensions (every emitted one is truly
    * unmatched) and completeness for clicks whose window is strictly
    * inside the final watermark (min of both sides' max event time − 1 h;
    * exact-boundary rows are left to the engine). Hash-oracled: the
    * reported counts are the DETERMINISTIC quantities — the matched-pair
    * count and the strictly-closed unmatched-click floor, both replayable
    * as batch joins in DuckDB; the engine's raw null-extension count
    * (which may legitimately include watermark-boundary rows) is pinned
    * by the `null_extended_closed` invariant verdict, not the hash. */
  def stJoinOuter: QFn = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    val base = Fixtures.scratch(s, "st_join_outer")
    val ev = graft.Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value", "ts")
    val in = landedEvents(s, d, Seq("event_id", "user_id", "event_type", "value", "ts"))
    val src = s.readStream
      .schema(ev.schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").cast("timestamp").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").cast("timestamp").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
      "leftOuter")
    val q = withConfs(s, StatePartitions -> "8")(joined.writeStream
      .format("memory").queryName("st_join_outer_sink").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start())
    try q.awaitTermination() finally q.stop()
    val out = s.table("st_join_outer_sink").select("click_id", "purchase_id")
    // batch-side expectations over the same rows
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").cast("timestamp").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").cast("timestamp").as("p_ts"))
    // cached: the join feeds BOTH branches of the single invariant job below
    val batchInner = c.join(p,
      col("c_user") === col("p_user") && col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES")).cache()
    // job 1: both sides' max event time in ONE aggregate over one scan
    // (was two separate agg(max).head() jobs)
    val mx = ev.agg(
      max(when(col("event_type") === "click", col("ts").cast("timestamp"))).as("c"),
      max(when(col("event_type") === "purchase", col("ts").cast("timestamp"))).as("p"))
      .head()
    val wmCut = java.sql.Timestamp.from(
      Seq(mx.getTimestamp(0), mx.getTimestamp(1))
        .map(_.toInstant).min.minusSeconds(3600))
    val unmatchedClosed = c
      .join(batchInner.select(col("click_id").as("m_id")).distinct(),
        col("click_id") === col("m_id"), "left_anti")
      .filter(col("c_ts") + expr("INTERVAL 10 MINUTES") < lit(wmCut) - expr("INTERVAL 1 SECOND"))
    // job 2: ALL FOUR invariants in one action. Tag-union the three row
    // sources by click_id (event_id is unique, so null-extension and
    // closed-window membership are at most one row per click), roll up per
    // click, then one global aggregate — replacing six sequential
    // count()/join().count() actions with a single two-shuffle job.
    val tagged = out.select(col("click_id"),
        when(col("purchase_id").isNull, 1).otherwise(0).as("null_ext"),
        when(col("purchase_id").isNotNull, 1).otherwise(0).as("matched_out"),
        lit(0).as("inner_m"), lit(0).as("closed"))
      .unionAll(batchInner.select(col("click_id"),
        lit(0), lit(0), lit(1), lit(0)))
      .unionAll(unmatchedClosed.select(col("click_id"),
        lit(0), lit(0), lit(0), lit(1)))
    val perClick = tagged.groupBy("click_id").agg(
      sum("null_ext").as("n_null"), sum("matched_out").as("n_match"),
      sum("inner_m").as("n_inner"), sum("closed").as("n_closed"))
    val g = perClick.agg(
      sum("n_match").as("matched_out"), sum("n_inner").as("inner_rows"),
      sum("n_null").as("null_ext"), sum("n_closed").as("closed"),
      sum(when(col("n_null") > 0 && col("n_inner") > 0, 1).otherwise(0)).as("phantom"),
      sum(when(col("n_closed") > 0 && col("n_null") === 0, 1).otherwise(0)).as("missing"))
      .head()
    batchInner.unpersist()
    val (nMatched, innerRows) = (g.getLong(0), g.getLong(1))
    val (nNull, nClosed) = (g.getLong(2), g.getLong(3))
    val (phantom, missing) = (g.getLong(4), g.getLong(5))
    Seq(("matched", nMatched, nMatched == innerRows),
      ("null_extended_closed", nClosed, nNull >= nClosed),
      ("no_phantom_null_extension", phantom, phantom == 0L),
      ("closed_windows_all_emitted", missing, missing == 0L))
      .toDF("phase", "n", "invariant_ok")
      .orderBy("phase") // total key: phase strings are unique
  }

  /** st_curation_catalog: the curation funnel (L38) as a STREAMING
    * ingestion loop — each micro-batch runs the per-doc curation chain
    * BEFORE landing: (1) PII redaction (the L36 shared patterns, applied
    * before hashing so documents identical up to their PII values dedup
    * as ONE — a near-universal crawler artifact: boilerplate pages
    * differing only in contact details), (2) quality gate (integer word
    * count ≥ 5 — the Gopher-style bar scaled to fixture texts),
    * (3) exact self-dedup (first doc_id per redacted-content hash),
    * (4) hash-index anti-join against the committed table, (5) append
    * snapshot of survivors only. The map-only stages ride the streaming
    * DataFrame itself (stateless, no watermark needed); the per-batch
    * state is the committed hash index, exactly [[stDedupCatalog]]'s
    * bucketable 16-byte column. Deterministic literal inputs ⇒
    * exact-rows oracle; the committed rows prove every path fired:
    * quality reject, PII rewrite, redaction-equivalent in-batch dup,
    * cross-batch dup, and a clean late arrival. */
  def stCurationCatalog: QFn = (s, _) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.queries.Extensions.{piiEmailPat, piiIpPat, piiPhonePat, tokensExpr}
    val base = Fixtures.scratch(s, "st_cur_cat")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val input = MemoryStream[(Long, String)]
    val curated = input.toDF().toDF("doc_id", "raw")
      .select(col("doc_id"),
        regexp_replace(regexp_replace(regexp_replace(col("raw"),
            lit(piiEmailPat), lit("<EMAIL>")),
          lit(piiIpPat), lit("<IP>")),
          lit(piiPhonePat), lit("<PHONE>")).as("text"))
      .filter(expr(s"size($tokensExpr) >= 5"))
      .select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    cat.createTable("stream", "docs_curated", curated.schema)
    val q = withConfs(s, StatePartitions -> "4")(curated.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val ss = batch.sparkSession
        val hist = cat.readTable(ss, "stream", "docs_curated")
          .select("h").distinct()
        val w = Window.partitionBy("h").orderBy("doc_id")
        val accepted = batch
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .join(hist, Seq("h"), "left_anti")
          .select("doc_id", "text", "h")
        if (!accepted.isEmpty) {
          val dir = base.resolve("landed").resolve(s"batch-$id")
          accepted.write.mode("overwrite").parquet(dir.toString)
          cat.registerFiles("stream", "docs_curated", Seq(dir))
        }
        ()
      }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start())
    try {
      input.addData(
        (1L, "alpha beta gamma delta epsilon contact a@b.com now"),
        (2L, "tiny doc"), // quality reject: 2 words
        // redacts to doc 1's exact text — the PII-equivalent dup path
        (3L, "alpha beta gamma delta epsilon contact x@y.org now"))
      q.processAllAvailable()
      input.addData(
        // cross-batch PII-equivalent dup of committed doc 1
        (4L, "alpha beta gamma delta epsilon contact c@d.net now"),
        (5L, "totally different quality document with enough words"))
      q.processAllAvailable()
      input.addData(
        (6L, "tiny doc"), // still rejected two batches later
        (7L, "totally different quality document with enough words"), // dup of 5
        (8L, "call 555-1234 and ping 10.0.0.1 please right away"))
      q.processAllAvailable()
    } finally q.stop()
    cat.readTable(s, "stream", "docs_curated")
      .select("doc_id", "text", "h").orderBy("doc_id")
  }

  /** st_curation_full: the COMPLETE production ingest loop in one
    * declared query — the round-10 verdict's item 6. Composes every
    * curation rejection the engine ships, per micro-batch, in funnel
    * order:
    *
    *  1. PII redaction (L36 patterns, BEFORE hashing so PII-equivalent
    *     boilerplate dedups as one) — stateless, rides the stream;
    *  2. quality gate (integer word count ≥ 5) — stateless;
    *  3. exact self-dedup (first doc_id per redacted-content hash);
    *  4. exact cross-batch dedup: anti-join against the committed
    *     table's 16-byte hash column;
    *  5. NEAR-dup screen against the PERSISTED banded index
    *     ([[neardupScreen]] over `_sigs`/`_toks` side tables — the L40
    *     machinery: only the batch is tokenized/MinHashed, history
    *     enters as two index scans that carry NO text column, so
    *     re-derivation is structurally impossible — the PlanSpec pin);
    *  6. benchmark DECONTAMINATION (L34): the batch's 3-gram shingle
    *     hashes against the STATIC benchmark shingle set (a driver-side
    *     literal, the broadcast side of the production plan); ≥3 shared
    *     distinct shingles rejects — q_decontaminate's exact gate;
    *  7. append snapshot of survivors + index append (data → sigs →
    *     toks, the crash-safe order: under-indexed, never phantom).
    *
    * Per-batch cost is O(batch + collisions) regardless of committed
    * size; the benchmark set is fixed. Deterministic literal inputs ⇒
    * exact-rows oracle, and the committed rows PROVE each path fired
    * cross-batch: a missed rejection lands an extra row and breaks the
    * hash gate. */
  def stCurationFull: QFn = (s, _) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.queries.Extensions.{piiEmailPat, piiIpPat, piiPhonePat, tokensExpr}
    val base = Fixtures.scratch(s, "st_cur_full")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    // the static benchmark: its 3-gram shingle hash set is computed ONCE
    // at stream build (a few rows) and enters every batch as a literal
    // IN-set — the broadcast side of the L34 decontamination join
    val benchText = "evaluation heldout passage about gradient descent" +
      " convergence rates in deep networks"
    def shingles(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), expr(tokensExpr).as("toks"))
      .selectExpr("doc_id", "graft_ngrams(toks, 3) AS (pos, sh)")
      .select(col("doc_id"), md5(col("sh")).as("sh_h"))
    val benchHashes = shingles(Seq((0L, benchText)).toDF("doc_id", "text"))
      .select("sh_h").distinct().collect().map(_.getString(0)).toSeq
    val input = MemoryStream[(Long, String)]
    val curated = input.toDF().toDF("doc_id", "raw")
      .select(col("doc_id"),
        regexp_replace(regexp_replace(regexp_replace(col("raw"),
            lit(piiEmailPat), lit("<EMAIL>")),
          lit(piiIpPat), lit("<IP>")),
          lit(piiPhonePat), lit("<PHONE>")).as("text"))
      .filter(expr(s"size($tokensExpr) >= 5"))
      .select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    cat.createTable("stream", "docs_full", curated.schema)
    val proto = Seq((0L, "x")).toDF("doc_id", "text")
    cat.createTable("stream", "docs_full_sigs",
      docBandRows(docTokenSets(proto)).schema)
    cat.createTable("stream", "docs_full_toks", docTokenSets(proto).schema)
    val q = withConfs(s, StatePartitions -> "4")(curated.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val ss = batch.sparkSession
        val hist = cat.readTable(ss, "stream", "docs_full")
        val sigsHist = cat.readTable(ss, "stream", "docs_full_sigs")
        val toksHist = cat.readTable(ss, "stream", "docs_full_toks")
        val w = Window.partitionBy("h").orderBy("doc_id")
        val fresh = batch
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .join(hist.select("h").distinct(), Seq("h"), "left_anti")
          .localCheckpoint()
        val nearRejected = neardupScreen(fresh, sigsHist, toksHist)
        val contaminated = shingles(fresh)
          .filter(col("sh_h").isin(benchHashes: _*))
          .groupBy("doc_id")
          .agg(countDistinct(col("sh_h")).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .select("doc_id")
        val accepted = fresh
          .join(nearRejected, Seq("doc_id"), "left_anti")
          .join(contaminated, Seq("doc_id"), "left_anti")
          .select("doc_id", "text", "h")
          .localCheckpoint()
        if (!accepted.isEmpty) {
          val dir = base.resolve("landed").resolve(s"batch-$id")
          accepted.write.mode("overwrite").parquet(dir.resolve("data").toString)
          val aSets = docTokenSets(accepted).localCheckpoint()
          docBandRows(aSets).write.mode("overwrite")
            .parquet(dir.resolve("sigs").toString)
          aSets.write.mode("overwrite").parquet(dir.resolve("toks").toString)
          cat.registerFiles("stream", "docs_full", Seq(dir.resolve("data")))
          cat.registerFiles("stream", "docs_full_sigs", Seq(dir.resolve("sigs")))
          cat.registerFiles("stream", "docs_full_toks", Seq(dir.resolve("toks")))
        }
        ()
      }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start())
    // near-dup texts reuse st_neardup_catalog's VERIFIED-to-collide
    // pairs (one-word edits on ~19-token texts: Jaccard 18/20 = 0.9)
    val tA = "the quick brown fox jumps over the lazy dog while rain falls on the quiet village green at dawn"
    val tB = "spark executors shuffle partitioned data across the cluster while the driver plans stages and tracks lineage graphs"
    val tC = "a completely separate third document discusses parquet footers column statistics and predicate pushdown for efficient scans"
    val tA2 = tA.replace("dawn", "mist")
    val tC2 = tC.replace("efficient", "fast")
    // shares the 6-token run "about gradient descent convergence rates
    // in" with the benchmark ⇒ 4 shared 3-gram shingles ≥ the 3 gate
    val tContam = "this web document quotes about gradient descent" +
      " convergence rates in full from the held out benchmark"
    try {
      input.addData(
        (1L, tA),
        (2L, "tiny doc"), // quality reject: 2 words
        (3L, "alpha beta gamma delta epsilon contact x@y.org now"),
        (4L, tB))
      q.processAllAvailable()
      input.addData(
        (5L, tA2),     // NEAR-dup of committed 1 — index screen
        (6L, tContam), // decontamination reject
        // redacts identical to committed 3 — cross-batch exact dup
        (7L, "alpha beta gamma delta epsilon contact c@d.net now"),
        (8L, tC))
      q.processAllAvailable()
      input.addData(
        (9L, tC2),  // near-dup of 8, a batch later
        (10L, tA),  // exact dup of 1, two batches later
        (11L, "tiny doc"), // quality reject still firing
        (12L, "call 555-1234 and ping 10.0.0.1 please right away"))
      q.processAllAvailable()
    } finally q.stop()
    cat.readTable(s, "stream", "docs_full")
      .select("doc_id", "text", "h").orderBy("doc_id")
  }

  val queries: Map[String, QFn] = Map(
    "st_curation_full" -> stCurationFull,
    "st_curation_catalog" -> stCurationCatalog,
    "st_watermark"    -> stWatermark,
    "st_watermark_rocksdb" -> stWatermarkRocks,
    "st_dedup"        -> stDedup,
    "st_dedup_rocksdb" -> stDedupRocks,
    "st_sessionize"   -> stSessionize,
    "st_file_source"  -> stFileSource,
    "st_catalog_sink" -> stCatalogSink,
    "st_dedup_catalog" -> stDedupCatalog,
    "st_neardup_catalog" -> stNeardupCatalog,
    "st_catalog_source" -> stCatalogSource,
    "st_changelog"    -> stChangelog,
    "st_vec_index_maintain" -> stVecIndexMaintain,
    "st_text_index_maintain" -> stTextIndexMaintain,
    "st_vec_augment"  -> stVecAugment,
    "st_join"         -> stJoin,
    "st_join_outer"   -> stJoinOuter,
  )

  /** st_file_source proves STREAM-BATCH PARITY: draining the landing zone
    * through Structured Streaming must equal the batch aggregate DuckDB
    * computes over the same rows. The stateful demos stay non-oracle. */
  /** Deterministic literal inputs ⇒ the dedup result is a fixed table;
    * the default (HDFS) and RocksDB state-store variants run the SAME
    * query and must both reproduce it exactly. */
  private val stDedupOracle =
    """SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'first'),
      |(CAST(2 AS BIGINT), 'first'), (CAST(3 AS BIGINT), 'first'))
      |AS t(event_id, payload) ORDER BY event_id""".stripMargin

  /** Same determinism argument for the watermarked windowed aggregate:
    * exactly the three finalized windows, in order, on either store. */
  private val stWatermarkOracle =
    """SELECT * FROM (VALUES
      |  (TIMESTAMP '2024-01-01 00:00:00', 'a', CAST(2 AS BIGINT)),
      |  (TIMESTAMP '2024-01-01 00:10:00', 'b', CAST(1 AS BIGINT)),
      |  (TIMESTAMP '2024-01-01 00:20:00', 'b', CAST(1 AS BIGINT)))
      |AS t(w_start, k, n) ORDER BY w_start, k""".stripMargin

  val oracles: Map[String, String] = Map(
    // the streaming-maintained inverted index must answer the indexed
    // BM25 top-10 IDENTICALLY to the scan-based replay over the raw
    // corpus — a missed/doubled batch shifts df/N and breaks the hash
    "st_text_index_maintain" ->
      graft.queries.Extensions.bm25IndexedOracleSql,
    // each invariant equals the batch cardinality DuckDB derives from
    // the raw table itself — replay double-appends, dropped batches,
    // missing-neighbor queries and batch/self contamination all break it
    "st_vec_augment" ->
      """WITH b AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 10 = 7)
        |SELECT 'augmented_rows' AS metric, CAST(c AS BIGINT) AS n FROM b
        |UNION ALL SELECT 'distinct_queries', CAST(c AS BIGINT) FROM b
        |UNION ALL SELECT 'neighbors_from_corpus', CAST(c AS BIGINT) FROM b
        |ORDER BY metric""".stripMargin,
    // the full funnel's survivors: 2/11 quality-rejected, 3 lands in its
    // REDACTED form (7 its cross-batch PII-equivalent dup, rejected), 5
    // near-dup of 1 and 9 near-dup of 8 (banded index screen), 6
    // decontaminated against the benchmark shingles, 10 an exact dup two
    // batches later — every rejection path must fire or the hash breaks
    "st_curation_full" ->
      """SELECT doc_id, text, md5(text) AS h FROM (VALUES
        |  (CAST(1 AS BIGINT), 'the quick brown fox jumps over the lazy dog while rain falls on the quiet village green at dawn'),
        |  (CAST(3 AS BIGINT), 'alpha beta gamma delta epsilon contact <EMAIL> now'),
        |  (CAST(4 AS BIGINT), 'spark executors shuffle partitioned data across the cluster while the driver plans stages and tracks lineage graphs'),
        |  (CAST(8 AS BIGINT), 'a completely separate third document discusses parquet footers column statistics and predicate pushdown for efficient scans'),
        |  (CAST(12 AS BIGINT), 'call <PHONE> and ping <IP> please right away'))
        |AS t(doc_id, text) ORDER BY doc_id""".stripMargin,
    // survivors of the three-batch curation ingestion: 2/6 quality-
    // rejected, 3 an in-batch PII-equivalent dup of 1, 4 a cross-batch
    // one, 7 an exact dup of 5 — the landed texts carry the REDACTED
    // form, and DuckDB recomputes each hash from the redacted literal
    "st_curation_catalog" ->
      """SELECT doc_id, text, md5(text) AS h FROM (VALUES
        |  (CAST(1 AS BIGINT), 'alpha beta gamma delta epsilon contact <EMAIL> now'),
        |  (CAST(5 AS BIGINT), 'totally different quality document with enough words'),
        |  (CAST(8 AS BIGINT), 'call <PHONE> and ping <IP> please right away'))
        |AS t(doc_id, text) ORDER BY doc_id""".stripMargin,
    "st_dedup" -> stDedupOracle,
    "st_dedup_rocksdb" -> stDedupOracle,
    "st_watermark" -> stWatermarkOracle,
    "st_watermark_rocksdb" -> stWatermarkOracle,
    // the two closable sessions are a fixed table: u1/u2 time out when the
    // watermark passes last-event + 10 min; u3's open session is withheld
    "st_sessionize" ->
      """SELECT * FROM (VALUES
        |  ('u1', CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 00:01:00',
        |   TIMESTAMP '2024-01-01 00:03:00'),
        |  ('u2', CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 00:02:00',
        |   TIMESTAMP '2024-01-01 00:02:00'))
        |AS t("user", n_events, s_start, s_end) ORDER BY "user"""".stripMargin,
    "st_file_source" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the streaming ingestion dedup is deterministic: only the first
    // arrival of each content hash may land, across all micro-batches
    "st_dedup_catalog" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'alpha', md5('alpha')),
        |  (CAST(2 AS BIGINT), 'beta',  md5('beta')),
        |  (CAST(5 AS BIGINT), 'gamma', md5('gamma')))
        |AS t(doc_id, text, h) ORDER BY doc_id""".stripMargin,
    // survivors of the three-batch near-dup ingestion: 3 (exact in-batch),
    // 4 (near-dup of 1), 6 (near-dup of 5), 7 (exact, two batches later)
    // all rejected — the committed rows ARE the proof each path fired
    "st_neardup_catalog" ->
      """SELECT doc_id, text, md5(text) AS h FROM (VALUES
        |  (CAST(1 AS BIGINT), 'the quick brown fox jumps over the lazy dog while rain falls on the quiet village green at dawn'),
        |  (CAST(2 AS BIGINT), 'spark executors shuffle partitioned data across the cluster while the driver plans stages and tracks lineage graphs'),
        |  (CAST(5 AS BIGINT), 'a completely separate third document discusses parquet footers column statistics and predicate pushdown for efficient scans'))
        |AS t(doc_id, text) ORDER BY doc_id""".stripMargin,
    "st_catalog_sink" ->
      """SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_value,
        |       true AS n_snapshots_ge_2
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the catalog-source counts are data-derived (the even-id half lands
    // as snapshot 1, the odd half as the delta): DuckDB recomputes them
    // from events; the invariant flags are pinned true — a broken
    // exactly-once or a non-refused DML mismatches here
    "st_catalog_source" ->
      """WITH c AS (SELECT count(*) AS total,
        |                  count(*) FILTER (event_id % 2 = 0) AS half
        |           FROM events)
        |SELECT * FROM (
        |  SELECT 'run1_snapshot1_rows' AS phase, half AS n,
        |         true AS invariant_ok FROM c
        |  UNION ALL SELECT 'run2_delta_only', total - half, true FROM c
        |  UNION ALL SELECT 'exactly_once_total', total, true FROM c
        |  UNION ALL SELECT 'dml_refused', 1, true)
        |ORDER BY phase""".stripMargin,
    // the streamed CDC sync over the constant 5-row region history —
    // the SAME literal replay as meta_changelog_sync's oracle (wave 1 =
    // initial insert + both deletes, wave 2 = the upsert pair + the
    // append); the in-query time-travel equality is the correctness
    // gate, these counts its fingerprint
    "st_changelog" ->
      """SELECT * FROM (VALUES
        |  (1, CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
        |  (2, CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT)))
        |  v(wave, n_inserts, n_deletes, mirror_rows)
        |ORDER BY wave""".stripMargin,
    "st_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |                  CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT c.user_id AS user_id, c.event_id AS click_id,
        |       p.event_id AS purchase_id, round(p.value, 2) AS p_value
        |FROM e c JOIN e p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY user_id, click_id, purchase_id""".stripMargin,
    // replays the two deterministic outer-join quantities as batch joins:
    // matched pairs, and unmatched clicks whose 10-minute window closed
    // strictly before the final watermark (min of both sides' max event
    // time − 1 h, − 1 s guard); the two zero rows are the soundness /
    // completeness violation counts the engine must not produce
    "st_join_outer" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS ts FROM events),
        |c AS (SELECT event_id AS click_id, user_id, ts FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts FROM e
        |      WHERE event_type = 'purchase'),
        |inner_j AS (SELECT c.click_id FROM c JOIN p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE),
        |wm AS (SELECT least((SELECT max(ts) FROM c),
        |                    (SELECT max(ts) FROM p))
        |              - INTERVAL 1 HOUR AS cut),
        |closed AS (SELECT count(*) AS n FROM c
        |  WHERE c.click_id NOT IN (SELECT click_id FROM inner_j)
        |    AND c.ts + INTERVAL 10 MINUTE <
        |        (SELECT cut FROM wm) - INTERVAL 1 SECOND)
        |SELECT * FROM (VALUES
        |  ('closed_windows_all_emitted', CAST(0 AS BIGINT), true),
        |  ('matched', (SELECT CAST(count(*) AS BIGINT) FROM inner_j), true),
        |  ('no_phantom_null_extension', CAST(0 AS BIGINT), true),
        |  ('null_extended_closed', (SELECT CAST(n AS BIGINT) FROM closed),
        |   true))
        |  v(phase, n, invariant_ok)
        |ORDER BY phase""".stripMargin,
  )
}
