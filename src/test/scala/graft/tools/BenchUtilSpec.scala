package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchUtilSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def roundTrip(s: String): String =
    mapper.readValue("\"" + BenchUtil.jsonEscape(s) + "\"", classOf[String])

  test("jsonEscape: every control character, quote and backslash parse back unchanged") {
    val special = ((0 until 0x20).map(_.toChar) ++ Seq('"', '\\')).map(_.toString)
    special.foreach { c =>
      assert(roundTrip(c) == c, f"char 0x${c.head.toInt}%02x")
      assert(!BenchUtil.jsonEscape(c).exists(_ < ' '), f"char 0x${c.head.toInt}%02x left raw")
    }
    val mixed = special.mkString("dir/", "x", "é😀")
    assert(roundTrip(mixed) == mixed)
  }
}
