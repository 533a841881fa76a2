package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh directory `prefix<random>` under the scratch root
    * ([[graft.queries.Fixtures.root]]), deleted once this spec's tests
    * have run. */
  def scratchDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(graft.queries.Fixtures.root, prefix)
    scratchDirs.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try scratchDirs.forEach(d => if (Files.exists(d)) graft.catalog.Fs.deleteRecursively(d))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // FAIR like the driver mains, so meta_concurrent's mode invariant
      // holds in tests too (reference entrypoint-spark.sh:135-136)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      // as GraftSession.builder: sessions share the codegen cache
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
