package graft

import org.scalatest.funsuite.AnyFunSuite

/** The key registry: the declared surface keeps its size, and `declMap`
  * (the one builder every module's `decls` and `SparkEntry`'s merge go
  * through) refuses a key declared twice instead of keeping the last one.
  */
class RegistrySpec extends AnyFunSuite {

  private val stub = Decl((s, _) => s.emptyDataFrame)

  test("the registry holds 570 keys, 543 of them with an oracle") {
    assert(SparkEntry.queries.size == 570)
    assert(SparkEntry.oracleSql.size == 543)
  }

  test("declMap rejects a key repeated inside one call") {
    // a Map(...) literal drops the first entry without a word
    assert(Map("dup_key" -> stub, "dup_key" -> stub).size == 1)
    val e = intercept[IllegalArgumentException](
      declMap("dup_key" -> stub, "other_key" -> stub, "dup_key" -> stub))
    assert(e.getMessage.contains("dup_key"))
    assert(!e.getMessage.contains("other_key"))
  }

  test("declMap rejects a key repeated across two modules") {
    val key = operators.Text.decls.keys.min
    val redeclared = Map(key -> stub, "fresh_key" -> stub)
    val e = intercept[IllegalArgumentException](
      declMap(Seq(operators.Text.decls, redeclared).flatten: _*))
    assert(e.getMessage.contains(key))
  }
}
