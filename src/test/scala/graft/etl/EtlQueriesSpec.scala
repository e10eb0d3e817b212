package graft.etl

import org.scalatest.funsuite.AnyFunSuite

class EtlQueriesSpec extends AnyFunSuite {

  test("round-trip scratch dirs of two lakes differ even when their paths share a hashCode") {
    // "Aa".hashCode == "BB".hashCode: a hash-named dir would let the
    // two lakes' s1–s7 round trips overwrite each other's sources
    assert("/d/Aa".hashCode == "/d/BB".hashCode)
    assert(EtlQueries.tmpDir("s1", "/d/Aa") != EtlQueries.tmpDir("s1", "/d/BB"))
  }
}
