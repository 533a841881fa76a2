package graft.etl

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Compaction semantics (SURVEY.md §2.B B6-B9). */
class CompactSpec extends SparkSpec {
  import spark.implicits._

  private def writeInputs(n: Int): (Seq[String], java.nio.file.Path) = {
    val base = scratchDir("compact_spec")
    val files = (0 until n).map { i =>
      val dir = base.resolve(s"in$i")
      (1 to 1000).map(j => (i.toLong * 1000 + j, s"v$j")).toDF("id", "v")
        .coalesce(1).write.parquet(dir.toString)
      import scala.jdk.CollectionConverters._
      Files.list(dir).iterator.asScala
        .find(_.toString.endsWith(".parquet")).get.toString
    }
    (files, base)
  }

  test("compact merges all rows; overwrite guard refuses an existing target") {
    val (files, base) = writeInputs(3)
    val out = base.resolve("out").toString
    val stats = Compact.compact(spark, files, out, overwrite = false)
    assert(stats.rows === 3000)
    assert(spark.read.parquet(stats.outPath).count() === 3000)
    intercept[IllegalStateException] {
      Compact.compact(spark, files, out, overwrite = false)
    }
    Compact.compact(spark, files, out, overwrite = true) // allowed
  }

  test("resolveOut: dir appends aggregated.parquet, file suffix kept exact") {
    assert(Compact.resolveOut("/tmp/x").endsWith("/x/aggregated.parquet"))
    assert(Compact.resolveOut("/tmp/y.parquet") === "/tmp/y.parquet")
    assert(Compact.resolveOut("/tmp/y.PRQ") === "/tmp/y.PRQ")
  }

  test("compactToSize picks ceil(input/target) output files") {
    val (files, base) = writeInputs(4)
    val total = files.map(f => Files.size(Paths.get(f))).sum
    val stats = Compact.compactToSize(spark, files,
      base.resolve("sized").toString, targetBytes = total / 2 + 1)
    import scala.jdk.CollectionConverters._
    val parts = Files.list(Paths.get(stats.outPath)).iterator.asScala
      .count(_.toString.endsWith(".parquet"))
    assert(parts === 2) // ceil(total / (total/2+1)) = 2
    assert(spark.read.parquet(stats.outPath).count() === 4000)
  }
}
