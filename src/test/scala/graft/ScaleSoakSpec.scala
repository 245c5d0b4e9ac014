package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScaleSoak's command line is parsed and validated before any Spark
  * session exists, so a typo or a removed family fails at once instead
  * of after a 32-core session build. No Spark here. */
class ScaleSoakSpec extends AnyFunSuite {
  import ScaleSoak.{Run, families}

  test("families rejects an unknown family, listing the known ones") {
    val e = intercept[IllegalArgumentException](families(Seq("tfnative")))
    assert(e.getMessage.contains("tfnative"))
    Seq("pagerank", "cc", "salt", "kmeans", "fullfunnel", "bench10x",
      "bench100x").foreach(f => assert(e.getMessage.contains(f), f))
    // one bad name anywhere rejects the whole command line
    intercept[IllegalArgumentException](families(Seq("cc", "repdiag4")))
  }

  test("families parses explicit grids and fills in default ones") {
    assert(families(Seq("cc:1000,2000", "bench10x")) ==
      Seq(Run("cc", Seq(1000L, 2000L)), Run("bench10x", Seq(5000L, 2000L))))
    assert(families(Seq("fullfunnel:48,50000", "bench100x:700")) ==
      Seq(Run("fullfunnel", Seq(48L, 50000L)), Run("bench100x", Seq(700L))))
    assert(families(Nil).map(_.family) ==
      Seq("cc", "salt", "kmeans", "pagerank"))
  }

  test("families rejects a malformed grid") {
    Seq("cc:", "cc:1000,x", "salt:0", "kmeans:-5", "bench100x:1,2",
      "fullfunnel:48", "bench10x:5000").foreach { arg =>
      intercept[IllegalArgumentException](families(Seq(arg)))
    }
  }
}
