package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The correctness dump's input checks and its JSON output. */
class VerifySpec extends SparkSpec {

  test("the shared JSON escaper round-trips quote, backslash and control chars") {
    val s = "say \"hi\" C:\\dir\ttab\rcr\nnl\u0001soh"
    assert(new ObjectMapper().readValue(Json.str(s), classOf[String]) == s)
  }

  test("an unknown name filter fails before the session starts") {
    val out = java.nio.file.Files.createTempDirectory("verify-spec")
    intercept[IllegalArgumentException] {
      Verify.main(Array(sf, out.toString, "no_such_query"))
    }
    assert(!spark.sparkContext.isStopped)
    assert(!java.nio.file.Files.exists(out.resolve("errors.json")))
  }
}
