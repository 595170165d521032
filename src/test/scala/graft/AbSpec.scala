package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Ab

/** The `k=v` lever parsing shared by the Ab timer and PlanCheck. */
class AbSpec extends AnyFunSuite {
  test("levers: k=v tokens parse; a token without '=' fails naming the token") {
    assert(Ab.levers(Seq("spark.graft.cc.localMaxEdges=0", "a=x=y", "b=")) ==
      Seq("spark.graft.cc.localMaxEdges" -> "0", "a" -> "x=y", "b" -> ""))
    val e = intercept[IllegalArgumentException](Ab.levers(Seq("a=1", "spark.graft.oops")))
    assert(e.getMessage.contains("'spark.graft.oops'"))
    assert(intercept[IllegalArgumentException](Ab.levers(Seq("=v"))).getMessage.contains("'=v'"))
  }

  test("levers: a spark.graft key the engine does not read fails naming it and the key it reads") {
    val e = intercept[IllegalArgumentException](
      Ab.levers(Seq("spark.sql.shuffle.partitions=8", "spark.graft.sql.targetPartitionBytes=-1")))
    assert(e.getMessage.contains("'spark.graft.sql.targetPartitionBytes'"))
    assert(e.getMessage.contains("spark.graft.cc.localMaxEdges"))
  }
}
