package graft.config

import graft.SparkSpec

class ShufflePartitionsSpec extends SparkSpec {

  test("a positive integer is taken as is, anything else falls back") {
    assert(ShufflePartitions.parse("200", 8) == 200)
    assert(ShufflePartitions.parse(" 16 ", 8) == 16)
    Seq("auto", "", "0", "-4", "1.5", "99999999999", null).foreach { raw =>
      assert(ShufflePartitions.parse(raw, 8) == 8, s"raw=$raw")
    }
  }

  test("the session value is read through the same parse") {
    assert(ShufflePartitions(spark) == 4)
  }
}
