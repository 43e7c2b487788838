package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gateway.Json
import graft.gateway.JValue.{JArr, JNum, JObj, JStr}

/** The Bench fixture-dir contract (VERDICT r16 #3): positional argv
  * wins, env falls back, extra arguments are an error — never a silent
  * wrong-fixture run. Also the artifact lines Bench and Verify write.
  */
class BenchArgsSpec extends AnyFunSuite {
  test("Bench sfDir: argv wins, env falls back, extra args rejected") {
    assert(Bench.resolveSfDir(Array("/x"), Map("SPARK_GRAFT_SF_DIR" -> "/y"))
      == Right("/x"))
    assert(Bench.resolveSfDir(Array.empty, Map("SPARK_GRAFT_SF_DIR" -> "/y"))
      == Right("/y"))
    assert(Bench.resolveSfDir(Array.empty, Map.empty)
      == Right("/root/testdata/sf0.1"))
    assert(Bench.resolveSfDir(Array("/x", "oops"), Map.empty).isLeft)
  }

  test("steal stamp: per-window percentage, -1 sentinel on failed snapshots") {
    // 1000 ticks elapsed, 50 of them steal -> 5%.
    assert(Bench.stealBetween((10000L, 100L), (11000L, 150L)) == 5.0)
    // A failed FIRST snapshot must be the sentinel, not cumulative-since-
    // boot (ADVICE r17); same for a failed/regressed second snapshot.
    assert(Bench.stealBetween((0L, 0L), (11000L, 150L)) == -1.0)
    assert(Bench.stealBetween((10000L, 100L), (0L, 0L)) == -1.0)
    assert(Bench.stealBetween((10000L, 100L), (10000L, 100L)) == -1.0)
  }

  private val stamp = Bench.Stamp(Seq(0.5, 0.25, 1.0), 1.234, 4)

  // The key order the driver and other readers of these lines parse; it
  // must not change.
  private val seqKeys = Seq("metric", "value", "unit", "queries", "sf", "loadavg", "cores",
    "workers", "repeat", "errors", "steal_pct", "serve", "cold", "steady")
  private val concKeys = Seq("metric", "value", "unit", "mode", "conc", "serve", "sweeps",
    "cold", "steady", "errors", "failed", "loadavg", "steal_pct", "queries", "sf")

  private def reparse(o: JObj): JObj = Json.parse(o.render).asInstanceOf[JObj]

  test("sequential artifact: a failed query is an escaped err, left out of the totals") {
    val msg = "AnalysisException: \"x\" is not a column\nat line 2 \\ tab\t"
    val runs = Seq(
      Bench.QueryRun("p01_ok", Seq(2.0, 1.0), None),
      Bench.QueryRun("p02_broken", Seq(0.01, 0.01), Some(msg)),
      Bench.QueryRun("q01_ok", Seq(0.5, 0.25), None))
    val (full, summary) = Bench.sequentialLines(runs, stamp, "4", "/sf", "out.json")
    val f = reparse(full)
    assert(f.fields.map(_._1) == seqKeys)
    assert(reparse(summary).fields.map(_._1) == seqKeys :+ "detail")
    assert(f.get("queries").contains(JObj("p01_ok" -> JNum(1.0),
      "p02_broken" -> JObj("err" -> JStr(msg)), "q01_ok" -> JNum(0.25))))
    assert(f.int("errors").contains(1))
    assert(f.get("cold").contains(JNum(2.5)) && f.get("steady").contains(JNum(1.25)))
    assert(f.get("value") == f.get("cold"))
    assert(f.get("steal_pct").contains(JNum(1.23)))
    assert(f.get("loadavg").contains(JArr(Vector(JNum(0.5), JNum(0.25), JNum(1.0)))))
    assert(f.str("workers").contains("4") && f.int("repeat").contains(Bench.Repeat))
    // The summary keeps the same stamp but lists only the slowest
    // successful queries, rounded.
    val s = reparse(summary)
    assert(s.get("queries").contains(JObj("p01_ok" -> JNum(1.0), "q01_ok" -> JNum(0.25))))
    assert(s.str("detail").contains("out.json"))
    assert(s.fields.filterNot(k => k._1 == "queries" || k._1 == "detail") ==
      f.fields.filterNot(_._1 == "queries"))
  }

  test("throughput artifact: sweeps, named failures and the published key order") {
    val line = reparse(Bench.throughputLine(2,
      Seq((3.0, Seq("p02_broken: \"Boom\"")), (2.0, Seq("p02_broken: \"Boom\""))),
      stamp, 175, "/sf"))
    assert(line.fields.map(_._1) == concKeys)
    assert(line.get("sweeps").contains(JArr(Vector(JNum(3.0), JNum(2.0)))))
    assert(line.get("cold").contains(JNum(3.0)) && line.get("steady").contains(JNum(2.0)))
    assert(line.int("errors").contains(2))
    assert(line.get("failed").contains(JArr(Vector(JStr("p02_broken: \"Boom\"")))))
    assert(line.int("queries").contains(175))
  }

  test("oracle_sql.json round-trips names and SQL with control characters") {
    val tricky = "a\tb\rc\"d\\e\u0001f\n"
    val oracle = Map(s"q$tricky" -> s"SELECT '$tricky' AS x", "p01" -> "SELECT 1")
    val parsed = Json.parse(Verify.oracleJson(oracle)).asInstanceOf[JObj]
    assert(parsed.fields.toMap == oracle.map { case (k, v) => k -> JStr(v) })
  }
}
