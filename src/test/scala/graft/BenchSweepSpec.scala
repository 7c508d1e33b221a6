package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Bench.{Failed, Job, Refused, Timed, Workload, noRelease}
import org.scalatest.funsuite.AnyFunSuite

/** The sweep's runner and emitter over fake rows, without Spark: a
  * timed row reports its runs, a refused row is a named skip outside
  * the totals, and a throwing row is a failure; every line is JSON and
  * the short summary comes last.
  */
class BenchSweepSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  private val timedRow = Workload("timed", 3, (_, _, _) => Job(() => noRelease))
  private val refusedRow = Workload("refused", 2, (_, _, _) => Refused("no \"binary\" here"))
  private val throwingRow = Workload("throwing", 2, (_, _, _) =>
    Job(() => throw new IllegalStateException("boom")))

  /** The three fake rows run with runs timed at 3, 1, 2 seconds. */
  private def outcomes = {
    val secs = Iterator(3.0, 1.0, 2.0)
    Bench.runAll(Seq(timedRow, refusedRow, throwingRow), null, "unused") {
      _ => body => { body; secs.next() }
    }
  }

  private def lines(out: Seq[(Workload, Bench.Outcome)]): Seq[JsonNode] =
    Bench.emit(out, Seq("timed" -> (1.5, 100L)), 1.0, 2.0, "sf").map(json.readTree)

  test("the runner keeps each row's runs, refusal or failure") {
    val out = outcomes.toMap
    assert(out(timedRow) == Timed(Seq(3.0, 1.0, 2.0), Bench.Report(1.0)))
    assert(out(refusedRow) == Refused("no \"binary\" here"))
    assert(out(throwingRow).asInstanceOf[Failed].error.contains("boom"))
  }

  test("timed rows are totalled, refused rows skipped, thrown rows failed") {
    val ls = lines(outcomes)
    val full = ls.head
    assert(full.get("metric").asText == "total")
    val q = full.get("queries")
    assert(q.get("timed").asDouble == 1.0)
    assert(q.get("refused").isNull && q.get("throwing").isNull)
    assert(full.get("value").asDouble == 1.0)
    assert(full.get("value_cold").asDouble == 3.0)
    assert(full.get("failed").size == 1 && full.get("failed").get(0).asText == "throwing")
    val summary = ls.last
    assert(summary.get("metric").asText == "summary")
    assert(summary.get("n_failed").asInt == 1 && summary.get("n_skipped").asInt == 1)
    assert(summary.get("value_scaled").asDouble == 0.0)
    val skipped = ls(ls.size - 2)
    assert(skipped.get("metric").asText == "info")
    assert(skipped.get("skipped").get("refused").asText == "no \"binary\" here")
    assert(!skipped.get("skipped").has("throwing"))
  }

  test("a row's report adds queries and info entries") {
    val w = Workload("ref", 2, (_, _, _) => Job(() => noRelease,
      report = secs => Bench.Report(secs.min, Seq("ref_max" -> secs.max),
        Seq("ref_note" -> "7"))), counted = false)
    val secs = Iterator(4.0, 2.0)
    val ls = lines(Bench.runAll(Seq(w), null, "unused")(_ => body => { body; secs.next() }))
    assert(ls.head.get("queries").get("ref").asDouble == 2.0)
    assert(ls.head.get("queries").get("ref_max").asDouble == 4.0)
    assert(ls.head.get("value").asDouble == 0.0, "an uncounted row is not totalled")
    assert(ls.exists(l => l.has("ref_note") && l.get("ref_note").asInt == 7))
  }

  test("the summary stays short and last when every real row is refused") {
    val reason = "refused for a reason of a realistic length, with its numbers 4000000000"
    val ls = Bench.emit(Bench.table.map(_ -> Refused(reason)), Nil, 0.0, 0.0,
      "/some/sf/dir").map { l => json.readTree(l); l }
    assert(ls.last.contains("\"metric\":\"summary\""))
    assert(ls.last.length < 2000, ls.last)
    val summary = json.readTree(ls.last)
    assert(summary.get("n_skipped").asInt == Bench.table.size)
    assert(summary.get("n_failed").asInt == 0)
    assert(json.readTree(ls(ls.size - 2)).get("skipped").size == Bench.table.size)
  }

  test("table names are unique and each headline query is one row") {
    val names = Bench.table.map(_.name)
    assert(names.distinct.size == names.size)
    Bench.headline.foreach(h => assert(names.count(_ == h) == 1, h))
    assert(Bench.table.take(Bench.reference.size) == Bench.reference)
    assert(Bench.table.takeRight(Bench.x100.size) == Bench.x100)
  }
}
