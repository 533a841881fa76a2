package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}

import graft.catalog.Fs

/** Scratch space for the declared queries, in one place:
  *
  *  - [[root]] is where every scratch and fixture directory lives:
  *    `-Dgraft.tmp`, default `target` under the working directory.
  *  - [[scratch]] makes one per-run directory. Inside a [[run]] scope the
  *    directory is deleted when the scope ends; outside one it stays.
  *  - [[memo]] builds a fixture once per (JVM, key) and keeps it: the
  *    scratch a build makes belongs to no run, so no scope deletes it.
  *  - [[cloneWarehouse]] gives a run a private copy of a memoized
  *    warehouse to mutate.
  *
  * A run scope is bound to the runner's thread through a SparkContext
  * local property, which the threads a query starts inherit; two runs on
  * two threads never see, and so never delete, each other's scratch. */
object Fixtures {

  /** The scratch root, created on first use. */
  def root: Path = Files.createDirectories(
    Paths.get(sys.props.getOrElse("graft.tmp", "target")).toAbsolutePath)

  private val RunProp = "graft.fixtures.run"
  private val runs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Path]]()
  private val memos = scala.collection.mutable.HashMap.empty[Any, Any]

  /** A fresh directory under [[root]] named `prefix<random>`, deleted at
    * the end of the enclosing [[run]] scope, if any. */
  def scratch(s: SparkSession, prefix: String): Path = {
    val dir = Files.createTempDirectory(root, prefix)
    Option(s.sparkContext.getLocalProperty(RunProp))
      .flatMap(id => Option(runs.get(id))).foreach(_.add(dir))
    dir
  }

  /** Run `body` (a query and its sink) in a run scope on this thread,
    * then delete the scratch it made, whether it finished or threw. */
  def run[T](s: SparkSession)(body: => T): T = {
    val id = java.util.UUID.randomUUID.toString
    runs.put(id, new ConcurrentLinkedQueue[Path]())
    withRunProp(s, id) {
      try body
      finally runs.remove(id).forEach { dir =>
        try Fs.deleteRecursively(dir)
        catch { case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
          System.err.println(s"[fixtures] could not delete $dir: $e")
        }
      }
    }
  }

  /** The value `build` returned the first time this JVM asked for `key`.
    * One lock for all keys: a racing second caller waits for the first
    * build instead of paying its own. The build runs outside any run
    * scope, so the scratch it makes outlives the run that asked. */
  def memo[T](key: Any)(build: => T): T = memos.synchronized {
    memos.getOrElse(key, {
      val v = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .fold(build)(s => withRunProp(s, null)(build))
      memos(key) = v
      v
    }).asInstanceOf[T]
  }

  private def withRunProp[T](s: SparkSession, id: String)(body: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty(RunProp)
    sc.setLocalProperty(RunProp, id)
    try body finally sc.setLocalProperty(RunProp, prev)
  }

  /** Warehouse CLONING for bench fixtures that the measured operator
    * MUTATES (compaction, rebuild, maintenance): the pristine committed
    * state is built ONCE per (JVM, sfDir) — the zorderFixture /
    * vecRebuildFx convention — and each run receives a byte-identical
    * private copy to mutate, so repeated bench iterations measure the
    * OPERATOR (the thing the query declares) instead of re-paying the
    * fixture's train/encode/commit tax, while staying scenario-identical:
    * same snapshots, same file stats, same tombstones, same answers.
    *
    * A straight file copy is not enough, because two layers of the
    * catalog record ABSOLUTE paths:
    *
    *  - every metadata JSON's `addedFiles[].path` / `deletes[].path` /
    *    `bloomPath` entries — rewritten with a plain prefix replace (the
    *    warehouse prefix can't occur inside any other JSON value: stamps
    *    and table names never contain the temp-dir prefix);
    *  - every bloom SIDECAR keys its rows by the data file's canonical
    *    path INSIDE the sidecar parquet ([[graft.catalog.BloomIndex]]) —
    *    each sidecar is re-written with the prefix replaced (one tiny
    *    single-partition job over ≤files rows per sidecar; the sort-by-
    *    (file, column) layout the lookup's pushdown relies on is
    *    restored). A missed rewrite would not corrupt results — lookups
    *    are conservative (no sidecar row ⇒ file kept) — but it would
    *    silently disable the pruning the fixture exists to exercise, so
    *    the clone rewrites rather than relying on that.
    */
  def cloneWarehouse(s: SparkSession, src: Path, dst: Path): Unit = {
    val srcAbs = src.toAbsolutePath.toString
    val dstAbs = dst.toAbsolutePath.toString
    Fs.walk(src).foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t)
      }
    }
    Fs.regularFiles(dst, Seq(".json", ".text")).foreach { j =>
      val txt = Files.readString(j)
      if (txt.contains(srcAbs))
        Files.writeString(j, txt.replace(srcAbs, dstAbs))
    }
    val sidecars = Fs.walk(dst).filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("bloom-"))
    sidecars.foreach { bd =>
      val tmp = bd.resolveSibling(bd.getFileName.toString + ".rewrite")
      s.read.parquet(bd.toString)
        .withColumn("file",
          expr(s"replace(file, '$srcAbs/', '$dstAbs/')"))
        .repartition(1).sortWithinPartitions("file", "column")
        .write.parquet(tmp.toString)
      Fs.deleteRecursively(bd)
      Files.move(tmp, bd)
      ()
    }
  }
}
