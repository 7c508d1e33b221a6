package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchProbeSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CONF parse keeps commas inside a value") {
    assert(BenchProbe.parseConf(
      "spark.a=1,spark.sql.x=p,q,r,spark.b=k=v,junk") == Seq(
      "spark.a" -> "1", "spark.sql.x" -> "p,q,r", "spark.b" -> "k=v,junk"))
    assert(BenchProbe.parseConf("noequals") == Seq.empty)
  }
}
