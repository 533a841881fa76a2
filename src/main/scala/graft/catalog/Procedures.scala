package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-parity SYSTEM PROCEDURES served through Spark 4's native
  * `CALL` statement (SPARK-44167): `CALL cat.system.expire_snapshots
  * ('nyc.t', 3)` and friends — the maintenance UX the reference's users
  * get from Iceberg's procedure catalog. Each procedure is driver-side
  * metadata work delegating to the corresponding [[GraftCatalog]] verb
  * (or [[graft.etl.Maintenance]] for the rewrite), and returns its report
  * as a [[LocalScan]] — no job, same cost model as the metadata tables. */
private[catalog] object GraftProcedures {

  private def p(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  val names: Seq[String] = Seq("expire_snapshots", "rollback_to_snapshot",
    "create_branch", "fast_forward", "drop_branch", "create_tag", "drop_tag",
    "rewrite_data_files", "rebuild_vector_index", "compact_text_index",
    "search_text", "search_vec")

  def load(cat: GraftCatalog, pname: String): Option[UnboundProcedure] = {
    def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString
    def nsT(r: InternalRow): (String, String) = {
      val parts = str(r, 0).split('.')
      require(parts.length == 2,
        s"table must be 'namespace.table', got '${str(r, 0)}'")
      (parts(0), parts(1))
    }
    def utf(s: String) = UTF8String.fromString(s)
    pname match {
      case "expire_snapshots" => Some(proc(pname,
        Seq(p("table", StringType), p("keep_last", IntegerType)),
        StructType(Seq(
          StructField("expired_snapshots", IntegerType, nullable = false),
          StructField("deleted_files", IntegerType, nullable = false),
          StructField("remaining_snapshots", IntegerType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        val r = cat.expireSnapshots(ns, t, in.getInt(1))
        Seq(new GenericInternalRow(Array[Any](
          r.expiredSnapshots, r.deletedFiles, r.remainingSnapshots)))
      })
      // changelog-view observability: the view grows write-once with
      // every commit and only retention prunes it, so operators need its
      // footprint (dirs/files/bytes, pruned-through boundary) BEFORE a
      // high-commit-rate table doubles its own storage. Driver-side
      // directory walk, no job — same report shape as the Scala entry
      // (GraftCatalog.changelogViewStats).
      case "changelog_stats" => Some(proc(pname,
        Seq(p("table", StringType)),
        StructType(Seq(
          StructField("materialized_dirs", IntegerType, nullable = false),
          StructField("pruned_dirs", IntegerType, nullable = false),
          StructField("live_files", LongType, nullable = false),
          StructField("live_bytes", LongType, nullable = false),
          StructField("pruned_through_snapshot", LongType, nullable = false),
          StructField("max_snapshot", LongType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        val r = cat.changelogViewStats(ns, t)
        Seq(new GenericInternalRow(Array[Any](
          r.materializedDirs, r.prunedDirs, r.liveFiles, r.liveBytes,
          r.prunedThroughSnapshot, r.maxSnapshot)))
      })
      case "rollback_to_snapshot" => Some(proc(pname,
        Seq(p("table", StringType), p("snapshot_id", LongType)),
        StructType(Seq(
          StructField("previous_snapshot_id", LongType, nullable = false),
          StructField("current_snapshot_id", LongType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        val prev = cat.loadTable(ns, t).currentSnapshotId
        val m = cat.rollbackTo(ns, t, in.getLong(1))
        Seq(new GenericInternalRow(Array[Any](prev, m.currentSnapshotId)))
      })
      case "create_branch" => Some(proc(pname,
        Seq(p("table", StringType), p("branch", StringType)),
        StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("fork_snapshot_id", LongType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        val b = str(in, 1)
        val m = cat.createBranch(ns, t, b)
        Seq(new GenericInternalRow(Array[Any](utf(b), m.branchOf(b).forkId)))
      })
      case "fast_forward" => Some(proc(pname,
        Seq(p("table", StringType), p("branch", StringType)),
        StructType(Seq(
          StructField("current_snapshot_id", LongType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        val m = cat.fastForward(ns, t, str(in, 1))
        Seq(new GenericInternalRow(Array[Any](m.currentSnapshotId)))
      })
      case "drop_branch" => Some(proc(pname,
        Seq(p("table", StringType), p("branch", StringType)),
        StructType(Seq(
          StructField("dropped", StringType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        val b = str(in, 1)
        cat.dropBranch(ns, t, b)
        Seq(new GenericInternalRow(Array[Any](utf(b))))
      })
      case "create_tag" => Some(proc(pname,
        Seq(p("table", StringType), p("tag", StringType),
          p("snapshot_id", LongType)),
        StructType(Seq(
          StructField("tag", StringType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        cat.createTag(ns, t, str(in, 1), in.getLong(2))
        Seq(new GenericInternalRow(Array[Any](utf(str(in, 1)), in.getLong(2))))
      })
      case "drop_tag" => Some(proc(pname,
        Seq(p("table", StringType), p("tag", StringType)),
        StructType(Seq(
          StructField("dropped", StringType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        cat.dropTag(ns, t, str(in, 1))
        Seq(new GenericInternalRow(Array[Any](utf(str(in, 1)))))
      })
      case "rewrite_data_files" => Some(proc(pname,
        Seq(p("table", StringType),
          ProcedureParameter.in("target_file_bytes", LongType)
            .defaultValue((512L * 1024 * 1024).toString).build()),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        val before = cat.files(ns, t).size
        graft.etl.Maintenance.optimize(SparkSession.active, cat, ns, t,
          targetFileBytes = in.getLong(1))
        Seq(new GenericInternalRow(Array[Any](before, cat.files(ns, t).size)))
      })
      // The drift half of the FAISS index contract the codes tables
      // document ("the index GROWS, the model doesn't retrain; drift is
      // a periodic REBUILD"): retrain both quantizer halves on the
      // CURRENT corpus (read from the vector source-of-truth parquet)
      // and re-encode in overwrite snapshots — time travel still reaches
      // every pre-rebuild index state. One corpus-sized encode scan;
      // training is the bounded driver-side sample protocol
      // ([[graft.operators.IvfPq.initIndex]]).
      case "rebuild_vector_index" => Some(proc(pname,
        Seq(p("table", StringType), p("source_parquet", StringType)),
        StructType(Seq(
          StructField("cells_before", IntegerType, nullable = false),
          StructField("cells_after", IntegerType, nullable = false),
          StructField("vectors_indexed", LongType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        val spark = SparkSession.active
        val emb = spark.read.parquet(str(in, 1))
        val before = cat.readTable(spark, ns, s"${t}_ivfpq_cells").count().toInt
        graft.operators.IvfPq.buildIndex(spark, cat, ns, t, emb)
        val after = cat.readTable(spark, ns, s"${t}_ivfpq_cells").count().toInt
        val n = cat.readTable(spark, ns, s"${t}_ivfpq_codes").count()
        Seq(new GenericInternalRow(Array[Any](before, after, n)))
      })
      // the inverted text index's maintenance verb ([[graft.operators
      // .TextIndex.compactIndex]]): re-cluster all live postings into
      // the canonical layout and fold the stats deltas — one linear
      // pass, answer-invariant (etl_text_index_compact exercises it
      // through this SQL surface)
      case "compact_text_index" => Some(proc(pname,
        Seq(p("table", StringType)),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false)))) { in =>
        val (ns, t) = nsT(in)
        val spark = SparkSession.active
        val before = cat.files(ns, s"${t}_postings").size
        graft.operators.TextIndex.compactIndex(spark, cat, ns, t)
        Seq(new GenericInternalRow(Array[Any](before,
          cat.files(ns, s"${t}_postings").size)))
      })
      // retrieval through the COMMITTED indexes as SQL verbs — the
      // reference's whole point is that a BI client speaks SQL, and
      // until these the index searches were Scala-API-only. Both return
      // their constant top-k as a LocalScan (a bounded driver result,
      // like every report here); the heavy work is the same pruned
      // index probe the Scala entry points run.
      //
      // search_text('ns.t', 'free text query', k): the query string
      // tokenizes under the SAME convention as the indexed corpus
      // (lowercase, alnum runs), probes the committed inverted index
      // ([[graft.operators.TextIndex.bm25Candidates]] — O(df) posting
      // reads off the term-pruned file union) and scores with the
      // shared BM25 tree, so results are row-identical to the Scala
      // path on the same terms.
      case "search_text" => Some(proc(pname,
        Seq(p("table", StringType), p("query", StringType),
          ProcedureParameter.in("k", IntegerType).defaultValue("10").build()),
        StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("n_hits", IntegerType, nullable = false),
          StructField("score", DoubleType, nullable = false)))) { in =>
        import org.apache.spark.sql.functions.{asc, desc}
        val (ns, t) = nsT(in)
        val spark = SparkSession.active
        // ONE tokenizer definition: the query string evaluates the same
        // tokensExpr the corpus was indexed under (a driver-side Scala
        // re-implementation here drifted-by-construction — unicode
        // lowercasing and regex semantics would be pinned only on the
        // fixture terms)
        val terms = graft.queries.Extensions.tokenizeQuery(spark, str(in, 1))
        require(terms.nonEmpty, "search_text needs at least one query term")
        graft.operators.TextIndex
          .bm25Candidates(spark, cat, ns, t, terms)
          .select(graft.queries.Extensions.bm25RankCols(terms.length): _*)
          .orderBy(desc("score"), asc("doc_id"))
          .limit(in.getInt(2))
          .collect()
          .map(r => new GenericInternalRow(Array[Any](
            r.getLong(0), r.getInt(1), r.getDouble(2))): InternalRow)
          .toSeq
      })
      // search_vec('ns.t', probe_id, k): more-like-this ANN over the
      // committed IVF+PQ index — the probe vector is point-fetched from
      // the raw re-rank store by id (a bloom-pruned read of ~1 file),
      // then [[graft.operators.IvfPq.search]] runs the standard pruned
      // probe → LUT shortlist → bloom-pruned exact re-rank; the probe
      // row excludes itself like the Scala entry.
      case "search_vec" => Some(proc(pname,
        Seq(p("table", StringType), p("probe_id", LongType),
          ProcedureParameter.in("k", IntegerType).defaultValue("10").build()),
        StructType(Seq(
          StructField("vec_id", LongType, nullable = false),
          StructField("cell", LongType, nullable = false),
          StructField("cos_sim", DoubleType, nullable = false)))) { in =>
        import org.apache.spark.sql.functions.col
        val (ns, t) = nsT(in)
        val spark = SparkSession.active
        val pid = in.getLong(1)
        val rawT = graft.operators.IvfPq.rawTable(t)
        require(cat.tableExists(ns, rawT),
          s"$ns.$t carries no committed raw re-rank store; " +
            "rebuild the index to serve SQL vector search")
        val probeRows = cat.readTable(spark, ns, rawT,
            filters = Seq(org.apache.spark.sql.sources.EqualTo("vec_id", pid)))
          .filter(col("vec_id") === pid)
          .select("embedding").collect()
        require(probeRows.nonEmpty, s"probe vector $pid is not indexed")
        val pvec = probeRows.head.getSeq[Float](0)
        val embSrc = cat.readTable(spark, ns, rawT)
          .select(col("vec_id"), col("embedding"))
        // served path: the pooled Thrift thread must not pin the
        // search's inspection handles past this call (see
        // IvfPq.clearInspection)
        try graft.operators.IvfPq
          .search(spark, cat, ns, t, embSrc, pid, pvec, k = in.getInt(2))
          .collect()
          .map(r => new GenericInternalRow(Array[Any](
            r.getLong(0), r.getLong(1), r.getDouble(2))): InternalRow)
          .toSeq
        finally graft.operators.IvfPq.clearInspection()
      })
      case _ => None
    }
  }

  private def proc(pname: String, params: Seq[ProcedureParameter],
                   out: StructType)
                  (body: InternalRow => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = s"graft system procedure $pname"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = pname
          override def description(): String = s"graft system procedure $pname"
          override def parameters(): Array[ProcedureParameter] = params.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val out0 = body(input).toArray
            java.util.List.of[Scan](new LocalScan {
              override def rows(): Array[InternalRow] = out0
              override def readSchema(): StructType = out
              override def description(): String = pname
            }).iterator()
          }
        }
    }
}
