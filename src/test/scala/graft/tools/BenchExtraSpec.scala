package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class BenchExtraSpec extends AnyFunSuite {

  test("SPARK_GRAFT_SET parses key=value overrides in order") {
    assert(BenchExtra.confOverrides(
      "spark.sql.codegen.wholeStage=false,,spark.a=x=y") ==
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.a" -> "x=y"))
    assert(BenchExtra.confOverrides("") == Nil)
    assert(BenchExtra.confOverrides("k=") == Seq("k" -> ""))
  }

  test("SPARK_GRAFT_SET names a malformed token instead of a MatchError") {
    Seq("spark.a=1,oops" -> "oops", "=v" -> "=v").foreach { case (spec, bad) =>
      val e = intercept[IllegalArgumentException](BenchExtra.confOverrides(spec))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
