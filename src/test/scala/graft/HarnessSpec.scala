package graft

import scala.collection.mutable

import org.apache.spark.graft.SuiteHygiene
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side harness without a Spark session: [[Bench.renderLine]]'s
  * choice of stdout variant, the [[Harness.time]] loop under a fake
  * runner, and [[Verify.select]]'s name filter. */
class HarnessSpec extends AnyFunSuite {

  private val clean = () => SuiteHygiene.Leftover(Nil, Nil)

  private def line(results: Seq[(String, Double)],
                   broken: Map[String, String] = Map.empty): String =
    Bench.renderLine(results, broken, "", "/data/sf0.1")

  test("renderLine keeps full names and centiseconds while the line fits") {
    val l = line(Seq("q1_scan" -> 1.234, "q2_join" -> 2.0), Map("q3_agg" -> "boom"))
    assert(l === """{"metric":"total","value":3.23,"unit":"sec",""" +
      """"queries":{"q1_scan":1.23,"q2_join":2.00},"failed":["q3_agg"],"sf":0.1}""")
  }

  test("renderLine shortens keys to unique prefixes only, and stays within 1800 chars") {
    val long = (1 to 90).map(i => f"q$i%03d_${"x" * 20}" -> 12.5)
    val short = line(long)
    assert(short.length <= 1800)
    assert(short.contains("\"q001\":12.5,"), short.take(200))
    assert(!short.contains("_xxx"))

    // one colliding prefix: shortening would merge two timings under one
    // key, so the only variant that fits is the total-only line
    val colliding = long :+ (("q001_other" + "y" * 20) -> 1.0)
    val total = line(colliding, Map("q500_broken" -> "boom"))
    assert(total.length <= 1800)
    assert(total.contains("\"queries\":{}"))
    assert(total.contains("\"failed_count\":1"))
    assert(total.startsWith("""{"metric":"total","value":1126.0,"""))
  }

  test("the timing loop is pass-major, resets after every window and keeps the minimum") {
    val calls = mutable.Buffer.empty[String]
    var resets = 0
    // per-window sleeps: the warm-up, then passes 1 to 3
    val sleepMs = Map(
      "a" -> Iterator(0L, 300L, 60L, 200L), "b" -> Iterator(0L, 60L, 60L, 60L))
    val t = Harness.time(Seq("a", "b"), passes = 3, tag = "test")(
      name => { calls += name; Thread.sleep(sleepMs(name).next()) },
      () => { resets += 1; clean() })
    assert(calls === Seq("a", "b", "a", "b", "a", "b", "a", "b"))
    assert(resets === calls.size)
    assert(t.failed.isEmpty)
    assert(t.best.map(_._1) === Seq("a", "b"))
    val aBest = t.best.toMap.apply("a")
    assert(aBest >= 0.06 && aBest < 0.2, s"a's best was $aBest s")
  }

  test("the timing loop excludes warm-up failures and drops a measured-pass failure") {
    val calls = mutable.Buffer.empty[String]
    val runs = mutable.Map.empty[String, Int].withDefaultValue(0)
    val windows = mutable.Buffer.empty[(String, Int)]
    val t = Harness.time(Seq("warm", "late", "ok"), passes = 2, tag = "test")(
      { name =>
        calls += name
        runs(name) += 1
        if (name == "warm" && runs(name) == 1) sys.error("warm-up broke")
        if (name == "late" && runs(name) == 3) sys.error("second pass broke")
      },
      clean,
      (name, pass, _) => windows += ((name, pass)))
    // "warm" never runs again after its warm-up failure; "late" is not
    // re-run after failing in pass 2
    assert(calls === Seq("warm", "late", "ok", "late", "ok", "late", "ok"))
    assert(t.best.map(_._1) === Seq("ok"))
    assert(t.failed.keys.toSeq === Seq("warm", "late"))
    assert(t.failed("warm").contains("warm-up broke"))
    assert(t.failed("late").contains("second pass broke"))
    // the per-window callback sees only the windows that succeeded
    assert(windows === Seq("late" -> 0, "ok" -> 0, "late" -> 1, "ok" -> 1, "ok" -> 2))
  }

  test("Verify's filter selects by prefix and refuses one that matches nothing") {
    val declared = Seq("q119_mor_dml", "q119b_mor_composite_key", "q121_mor_positional")
    assert(Verify.select(declared, None) === declared.toSet)
    assert(Verify.select(declared, Some("q119, q121_mor")) ===
      Set("q119_mor_dml", "q121_mor_positional"))
    assert(Verify.select(declared, Some("q119b_mor_composite_key")) ===
      Set("q119b_mor_composite_key"))
    val e = intercept[IllegalArgumentException](Verify.select(declared, Some("q119,q12")))
    assert(e.getMessage.endsWith("no declared query matches q12"))
    intercept[IllegalArgumentException](Verify.select(declared, Some(" , ")))
  }
}
