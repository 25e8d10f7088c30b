package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's driver contract: the compact line is the literal last
  * stdout line, and the driver keeps only the final ~2000 chars of stdout,
  * so the line must be ONE parseable JSON object within
  * [[Bench.CompactLineBudget]] whatever the gate names and error messages,
  * and must always carry `errors` and `value`. Also pins the up-front
  * validation of `SPARK_GRAFT_ROUNDS`.
  */
class BenchSpec extends AnyFunSuite {

  private val sf = "/data/tpch/sf0.1"

  private def fields(line: String): Map[String, JValue] =
    JsonMethods.parse(line) match {
      case JObject(fs) => fs.toMap
      case other => fail(s"compact line is not one JSON object: $other")
    }

  private def num(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JDecimal(d) => d.toDouble
    case JLong(l) => l.toDouble
    case other => fail(s"not a number: $other")
  }

  test("184 long gate names plus 3 long error messages fit one parseable object") {
    // 64-char names, well past the registry's longest (26); the errors carry
    // quotes, a newline and a tab that must be escaped to stay one line
    def name(i: Int) = f"gate_$i%03d_" + "x" * 55
    val err = "IllegalStateException: \"boom\"\n\tat " + "frame." * 100
    val results = (0 until 184).map { i =>
      (name(i), 0.05 + i * 0.01, if (i % 60 == 7) Some(err) else None)
    }
    assert(results.count(_._3.nonEmpty) === 3)
    val line = Bench.compactLine(sf, results, warmupSec = 61.25)
    assert(line.length <= Bench.CompactLineBudget, s"${line.length} chars")
    assert(!line.contains("\n"))
    val f = fields(line)
    assert(num(f("errors")) === 3)
    assert(num(f("value")) === -1.0)
    assert(num(f("n_queries")) === 184)
    assert(num(f("warmup_sec")) === 61.25)
    // this input fits the full tier: slowest 15 plus the 3 errors
    val JObject(slow) = f("queries"): @unchecked
    assert(slow.size === 15)
    assert(slow.head._1 === name(183))
    val JObject(errs) = f("error_detail"): @unchecked
    assert(errs.map(_._1) === Seq(name(7), name(67), name(127)))
  }

  test("a pathological input falls to the minimal tier") {
    val results = (0 until 184).map(i => (s"g$i" + "y" * 300, 1.0, None))
    val line = Bench.compactLine(sf, results, warmupSec = 50.0)
    assert(line.length <= Bench.CompactLineBudget, s"${line.length} chars")
    val f = fields(line)
    assert(f.keySet === Set("metric", "unit", "sf", "n_queries", "errors",
      "warmup_sec", "value"))
    assert(f("metric") === JString("total"))
    assert(f("sf") === JString(sf))
    assert(num(f("errors")) === 0)
    assert(num(f("value")) === 184.0)
  }

  test("any error makes value -1, on both tiers") {
    val ok = Seq(("a", 1.5, None), ("b", 2.25, None))
    assert(Bench.total(ok) === 3.75)
    assert(num(fields(Bench.compactLine(sf, ok, 1.0))("value")) === 3.75)
    val one = ok :+ (("c", 0.001, Some("AnalysisException: no such column")))
    assert(Bench.total(one) === -1.0)
    assert(num(fields(Bench.compactLine(sf, one, 1.0))("value")) === -1.0)
    val longOne = one.map { case (n, t, e) => (n + "z" * 900, t, e) }
    val minimal = fields(Bench.compactLine(sf, longOne, 1.0))
    assert(!minimal.contains("queries"))
    assert(num(minimal("value")) === -1.0)
    assert(num(minimal("errors")) === 1)
  }

  test("SPARK_GRAFT_ROUNDS must be a positive integer, named in the error") {
    assert(Bench.positiveIntEnv("SPARK_GRAFT_ROUNDS", "3") === 3)
    for (bad <- Seq("0", "-2", "abc", "", "1.5")) {
      val e = intercept[IllegalArgumentException](
        Bench.positiveIntEnv("SPARK_GRAFT_ROUNDS", bad))
      assert(e.getMessage.contains("SPARK_GRAFT_ROUNDS"))
      assert(e.getMessage.contains(s"'$bad'"))
    }
  }
}
