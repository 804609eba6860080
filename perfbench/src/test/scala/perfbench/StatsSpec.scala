package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile returns a sample") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 90) == 5.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    // an even count takes the lower middle sample, never an average
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("p90 of 100 samples leaves ten beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.beyond(xs, 90) == 10)
    assert(Stats.beyond((1 to 20).map(_.toDouble), 90) == 2)
  }

  test("percentile rejects no samples and out-of-range ranks") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("union length counts overlapping intervals once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (10L, 12L))) == 12L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  test("self time is the span minus the union of its children") {
    // no children: all of it is self time
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
    // two overlapping jobs covering [10, 60) leave 50 ms of driver time
    assert(Stats.selfTime(0L, 100L, Seq((10L, 40L), (30L, 60L))) == 50L)
    // a child reported past the span's end is clipped to it
    assert(Stats.selfTime(0L, 100L, Seq((90L, 130L))) == 90L)
    // a child wholly outside the span takes nothing from it
    assert(Stats.selfTime(0L, 100L, Seq((200L, 300L))) == 100L)
    // children covering the whole span leave no self time
    assert(Stats.selfTime(0L, 100L, Seq((0L, 50L), (50L, 100L))) == 0L)
  }

  test("a failed output check fails every op of the run") {
    assert(Stats.outcome(12, 0, outputOk = true) == Stats.Outcome(12, 0))
    assert(Stats.outcome(12, 0, outputOk = true).correct)
    assert(Stats.outcome(12, 0, outputOk = false) == Stats.Outcome(12, 12))
    assert(!Stats.outcome(12, 0, outputOk = false).correct)
    // an op that threw fails on its own even when the rest checks out
    assert(Stats.outcome(12, 1, outputOk = true) == Stats.Outcome(12, 1))
    assert(!Stats.outcome(12, 1, outputOk = true).correct)
    // a run that attempted nothing is not correct
    assert(!Stats.outcome(0, 0, outputOk = true).correct)
  }

  test("inputs are a function of the seed") {
    assert(Inputs.documentRows(7L, 50) == Inputs.documentRows(7L, 50))
    assert(Inputs.documentRows(7L, 50) != Inputs.documentRows(8L, 50))
    assert(Inputs.customerRows(3L) == Inputs.customerRows(3L))
    assert(Inputs.customerRows(3L).map(_.getLong(0)) ==
      (0 until Inputs.Customers).map(_.toLong))
    val docs = Inputs.documentRows(7L, 2000)
    assert(docs.count(_.getString(1).endsWith(" dup")) == 100)
    assert(docs.forall(d => d.getString(3) == s"src${d.getLong(0) % 20}"))
    assert(docs.map(_.getString(1).split(" ").count(_ != "dup")).forall(n =>
      n >= 10 && n <= 99))
    assert(StreamWorkload.startingOffset(5L) == StreamWorkload.startingOffset(5L + 997L))
    assert(StreamWorkload.startingOffset(-1L) >= 0L)
  }

  test("json rendering escapes strings and drops non-finite numbers") {
    assert(Json.obj(Seq("a" -> 1, "b" -> "x\"y\n")) == """{"a":1,"b":"x\"y\n"}""")
    assert(Json.value(Double.NaN) == "null")
    assert(Json.value(Map("z" -> 1.5, "a" -> true)) == """{"a":true,"z":1.5}""")
  }
}
