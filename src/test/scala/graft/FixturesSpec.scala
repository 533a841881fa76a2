package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, CyclicBarrier}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.functions.lit

import graft.catalog.Fs
import graft.queries.Fixtures

/** A run scope deletes the scratch its query made once the sink is done;
  * a memoized fixture outlives every run. */
class FixturesSpec extends SparkSpec {

  private def rootEntries(prefix: String): Set[Path] =
    Fs.list(Fixtures.root).filter(_.getFileName.toString.startsWith(prefix)).toSet

  /** A query that reads a memoized fixture and a file its own run wrote;
    * the sink reads both, so deleting either before it ends would fail
    * the run. */
  private class FixtureQuery(tag: String) {
    val builds = new AtomicInteger
    val fixture = new AtomicReference[Path]
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[Path]
    val key = ("fixtures-spec", tag, java.util.UUID.randomUUID.toString)
    val fn: Tables.QFn = (s, _) => {
      val fx = Fixtures.memo(key) {
        builds.incrementAndGet()
        val d = Fixtures.scratch(s, s"fxspec_${tag}_fixture")
        s.range(5).write.parquet(d.resolve("t").toString)
        d
      }
      fixture.set(fx)
      val run = Fixtures.scratch(s, s"fxspec_${tag}_run")
      runs.add(run)
      s.range(3).write.parquet(run.resolve("r").toString)
      s.read.parquet(fx.resolve("t").toString)
        .unionByName(s.read.parquet(run.resolve("r").toString))
        .select(lit(1).as("one"))
    }
  }

  test("a bench run deletes its scratch after the sink and keeps the fixture") {
    val q = new FixtureQuery("bench")
    assert(Bench.timeOnce(spark, sfDir, q.fn, "fx").nonEmpty)
    assert(Bench.timeOnce(spark, sfDir, q.fn, "fx").nonEmpty)
    assert(q.builds.get === 1, "the second run rebuilt the fixture")
    assert(q.runs.size === 2)
    q.runs.forEach(d => assert(!Files.exists(d), s"run scratch $d survived"))
    assert(Files.exists(q.fixture.get.resolve("t")))
    Fs.deleteRecursively(q.fixture.get)
  }

  test("bestOf leaves the same directories however many runs it makes") {
    val q = new FixtureQuery("bestof")
    val before = rootEntries("fxspec_bestof") // earlier JVMs' fixtures
    assert(Bench.timeOnce(spark, sfDir, q.fn, "fx").nonEmpty)
    val once = rootEntries("fxspec_bestof")
    assert(once -- before === Set(q.fixture.get))
    assert(Bench.bestOf(spark, sfDir, "fx", q.fn, 3, 1e6).nonEmpty)
    assert(q.runs.size === 4)
    assert(rootEntries("fxspec_bestof") === once)
    Fs.deleteRecursively(q.fixture.get)
  }

  test("a throwing query's scratch is deleted too") {
    val dir = new AtomicReference[Path]
    val boom: Tables.QFn = (s, _) => {
      dir.set(Fixtures.scratch(s, "fxspec_boom"))
      throw new IllegalStateException("boom")
    }
    assert(Bench.timeOnce(spark, sfDir, boom, "boom").isEmpty)
    assert(dir.get != null && !Files.exists(dir.get))
  }

  test("two threads in their own run scopes keep their own scratch") {
    val made = new CyclicBarrier(2)
    val aDone = new CountDownLatch(1)
    val aDir, bDir = new AtomicReference[Path]
    @volatile var bSawOwnOnly = false
    val a = new Thread(() => {
      Fixtures.run(spark) {
        aDir.set(Fixtures.scratch(spark, "fxspec_thread_a"))
        made.await()
      }
      aDone.countDown()
    })
    val b = new Thread(() => Fixtures.run(spark) {
      bDir.set(Fixtures.scratch(spark, "fxspec_thread_b"))
      made.await()
      aDone.await()
      bSawOwnOnly = Files.exists(bDir.get) && !Files.exists(aDir.get)
    })
    Seq(a, b).foreach(_.start())
    Seq(a, b).foreach(_.join(60000))
    assert(bSawOwnOnly, "ending one run deleted the other run's scratch")
    assert(!Files.exists(aDir.get) && !Files.exists(bDir.get))
  }

  test("outside a run scope scratch stays") {
    val d = Fixtures.scratch(spark, "fxspec_free")
    Fixtures.run(spark)(())
    assert(Files.isDirectory(d))
    Fs.deleteRecursively(d)
  }
}
