package graftbench

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The raw record the JVM hands to run.py: every string it carries
  * (errors, metric names, span names and trace ids) must stay valid JSON. */
class RecordSpec extends AnyFunSuite {
  private val nasty = "a\"b\\c\\\"d\n\te\u0001"
  private val escaped = "\"a\\\"b\\\\c\\\\\\\"d\\n\\te\\u0001\""

  test("the record escapes quotes, backslashes and control characters in every string") {
    val rec = new Record
    rec.op(ok = false, nasty)
    rec.set(nasty, 1.5)
    rec.sample(nasty, 2.0)
    val trace = new Trace(true)
    trace(nasty, nasty)(())
    val json = rec.json(trace)
    assert(!json.contains("\n"))
    assert(json.split(java.util.regex.Pattern.quote(escaped), -1).length - 1 == 5)
    assert(json.startsWith("{\"attempted\":1,\"failed\":1,"))
    val back = Json.mapper.readTree(json)
    assert(back.get("errors").get(0).asText == nasty)
    assert(back.get("values").get(nasty).asDouble == 1.5)
    assert(back.get("samples").get(nasty).get(0).asDouble == 2.0)
    val span = back.get("spans").get(0)
    assert(span.get(0).asText == nasty && span.get(1).asText == nasty)
  }

  test("non-finite values are written as null") {
    val rec = new Record
    rec.set("nan", Double.NaN)
    rec.sample("inf", Double.PositiveInfinity)
    val back = Json.mapper.readTree(rec.json(new Trace(false)))
    assert(back.get("values").get("nan").isNull)
    assert(back.get("samples").get("inf").get(0).isNull)
  }

  test("spans nest on one thread and record nothing when disabled") {
    val t = new Trace(true)
    t("outer", "r")(t("inner", "r")(()))
    val spans = t.rows.asScala.map(_.asScala.toSeq).map(s =>
      s(0).toString -> (s(2).asInstanceOf[Long], s(3).asInstanceOf[Long])).toMap
    assert(spans("inner")._2 == spans("outer")._1)
    assert(spans("outer")._2 == 0L)
    val off = new Trace(false)
    assert(off("x", "r")(42) == 42)
    assert(off.size == 0)
  }
}
