package graft.sources

import graft.SparkSpecBase

/** `GraftCatalog.unionAllByName` binds its N-ary Union by position, so it
  * must refuse frames whose field lists differ instead of re-aligning
  * them by name behind the caller's back. */
class UnionAllByNameSpec extends SparkSpecBase {

  test("unionAllByName refuses frames with different field lists, naming both") {
    import spark.implicits._
    val a = Seq((1L, "a")).toDF("id", "v")
    assert(GraftCatalog.unionAllByName(Seq(a, Seq((2L, "b")).toDF("id", "v")))
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    val e = intercept[IllegalArgumentException](
      GraftCatalog.unionAllByName(Seq(a, Seq(("b", 2L)).toDF("v", "id"))))
    assert(e.getMessage.contains("[id, v] vs [v, id]"), e.getMessage)
  }
}
