package graft

import org.scalatest.funsuite.AnyFunSuite

class ProfSpec extends AnyFunSuite {

  test("a relative SF dir is the dir, not a key; unknown keys fail fast") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_prof")
    try {
      val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(tmp).toString
      assert(!rel.startsWith("/"))
      assert(Prof.parseArgs(Seq(rel, "etl_sales_summary")) == ((Seq(rel), Seq("etl_sales_summary"))))
      val e = intercept[IllegalArgumentException](Prof.parseArgs(Seq(rel, "no_such_key")))
      assert(e.getMessage.contains("no_such_key"))
    } finally java.nio.file.Files.delete(tmp)
  }
}
