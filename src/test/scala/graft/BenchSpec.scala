package graft

import org.apache.spark.sql.functions.lit

/** graft.Bench reports a query that throws as failed: never timed, never
  * summed into `value`. */
class BenchSpec extends SparkSpec {
  test("a throwing query is listed as failed and left out of the sums") {
    val ok: Tables.QFn = (s, _) => s.range(10).select(lit(1).as("one"))
    val boom: Tables.QFn = (_, _) => throw new IllegalStateException("boom")
    val timed = Seq("q_ok" -> ok, "q_boom" -> boom)
      .map { case (n, fn) => n -> Bench.bestOf(spark, sfDir, n, fn, 3, 5.0) }
    assert(timed.toMap.apply("q_ok").nonEmpty)
    assert(timed.toMap.apply("q_boom").isEmpty)
    val ran = timed.collect { case (n, Some(sec)) => n -> sec }
    val failed = timed.collect { case (n, None) => n }
    val line = Bench.jsonLine(ran, ran, isHeadline = false, Nil, Nil, failed,
      sfDir)
    assert(line.contains("\"failed\":[\"q_boom\"]"))
    assert(line.contains("\"n_queries\":1"))
    assert(!line.contains("\"q_boom\":"), "a failed query must carry no time")
  }
}
