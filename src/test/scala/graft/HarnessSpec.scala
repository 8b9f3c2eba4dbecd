package graft

import org.apache.spark.sql.functions._

/** The Bench and Verify harnesses fail loud: a query that throws - at
  * composition or while running - is reported by name, never timed or
  * dumped as if it had run. */
class HarnessSpec extends SparkSpec {

  private val queries: Seq[(String, Bench.Query)] = Seq(
    "q_a_ok" -> ((s, _) => s.range(10).toDF("id")),
    "q_b_compose_throws" -> ((_, _) => throw new IllegalStateException("boom")),
    "q_c_run_throws" -> ((s, _) =>
      s.range(3).select(raise_error(lit("late")).as("x"))),
    "q_d_ok" -> ((s, _) => s.range(5).toDF("id")))

  test("Bench.pass lists throwing queries as failed and times only the rest") {
    var trims = 0
    val p = Bench.pass(spark, "unused", queries, trimEvery = 2, () => trims += 1)
    assert(p.failed == Seq("q_b_compose_throws", "q_c_run_throws"))
    assert(p.times.map(_._1) == Seq("q_a_ok", "q_d_ok"))
    assert(p.times.forall(_._2 >= 0.0))
    assert(trims == 1) // before the third query
  }

  test("cold/warm skew compares only the queries that ran in every pass") {
    // q_b threw in the warm pass only: with it, cold 1.5 s vs warm 1.0 s
    // would read as 0.5 skew and trigger a retry; without it, none
    val cold = Bench.Pass(Seq("q_a" -> 1.0, "q_b" -> 0.5), Nil)
    val warm = Bench.Pass(Seq("q_a" -> 1.0), Seq("q_b"))
    assert(Bench.coldWarmSkew(Seq(cold, warm)) == 0.0)
    assert(Bench.coldWarmSkew(Seq(cold, cold.copy(times = Seq(
      "q_a" -> 1.25, "q_b" -> 0.5)))) == 0.25 / 1.5)
  }

  test("Verify.dump lists throwing queries as failed and writes the rest") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify_spec").toString
    val failed = Verify.dump(spark, "unused", out, queries, trimEvery = 0)
    assert(failed == Seq("q_b_compose_throws", "q_c_run_throws"))
    assert(spark.read.parquet(s"$out/q_a_ok").count() == 10)
    assert(spark.read.parquet(s"$out/q_d_ok").count() == 5)
  }
}
