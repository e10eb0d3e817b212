package graft.geo

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** uuid5 must match Python's `uuid.uuid5` byte-for-byte (the datamart
  * resource-key contract, `land.py:271-274`) — fixtures generated with
  * CPython's uuid module. */
class Uuid5Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("uuid5 matches CPython fixtures") {
    def u(ns: String, name: String): String =
      spark.sql(s"SELECT uuid5('$ns', '$name') AS u").collect()(0).getString(0)
    assert(u("oid", "tree_cover_loss_by_driver_abc_30_v2024") ==
      "699e6f73-cb08-5565-9d76-5c5eb97bcad5")
    assert(u("dns", "example.com") == "cfbff0d1-9375-5685-968c-48ce8b15ae17")
    // explicit namespace UUID == the same named namespace
    assert(u("6ba7b812-9dad-11d1-80b4-00c04fd430c8", "x") == u("oid", "x"))
  }
}
