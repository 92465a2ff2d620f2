package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_EXTRA_CONF` parsing: every entry is set as written or the
  * session fails to start, naming the entry. */
class SessionFactorySpec extends AnyFunSuite {
  import SessionFactory.parseExtraConf

  test("extra conf: keys and values are trimmed, empty entries skipped") {
    assert(parseExtraConf(" spark.a=1; spark.b = x=y ;;") ==
      Seq("spark.a" -> "1", "spark.b" -> "x=y"))
    assert(parseExtraConf("") == Nil)
  }

  test("extra conf: an entry without '=' fails loudly and names the entry") {
    val e = intercept[IllegalArgumentException](
      parseExtraConf("spark.a=1;spark.sql.shuffle.partitions"))
    assert(e.getMessage.contains("'spark.sql.shuffle.partitions'"))
  }

  test("extra conf: a key outside spark.* fails loudly and names the entry") {
    val e = intercept[IllegalArgumentException](parseExtraConf("spark.a=1; sprak.b=2"))
    assert(e.getMessage.contains("'sprak.b=2'"))
  }
}
