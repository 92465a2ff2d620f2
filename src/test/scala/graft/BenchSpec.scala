package graft

import org.scalatest.funsuite.AnyFunSuite

/** The isolated-run protocol's pure plumbing: block selection must
  * partition the registry exactly (every query benched once, none twice)
  * and the child-JSON merge must round-trip what `resultJson` emits —
  * a silent drop here would under-report the bench without any failure. */
class BenchSpec extends AnyFunSuite {

  test("selected: no arg is the full registry, sorted") {
    assert(Bench.selected("") == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("selected: --names= picks exactly the listed queries") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val pick = Seq(all.head, all.last)
    assert(Bench.selected(s"--names=${pick.mkString(",")}") == pick)
    // unknown names are dropped, not run into a KeyNotFound at bench time
    assert(Bench.selected("--names=no_such_query") == Seq.empty)
  }

  test("selected: bare arg filters by prefix") {
    val q1s = SparkEntry.queries.keys.toSeq.filter(_.startsWith("q1")).sorted
    assert(Bench.selected("q1") == q1s && q1s.nonEmpty)
  }

  test("parseQueries round-trips a bench JSON line, failures as -1.0") {
    val line = """{"metric":"total","value":3.5,"unit":"sec","queries":{"q01_a":1.25,"q02_b":-1.0,"q03_c":2.25},"failed":["q02_b"],"sf":"/x"}"""
    assert(Bench.parseQueries(line) ==
      Seq(("q01_a", 1.25), ("q02_b", -1.0), ("q03_c", 2.25)))
  }

  test("compactJson stays under the driver wrapper's 2000-char window " +
    "at full-registry size and reports total/failed/canaries") {
    // the wrapper keeps the LAST 2000 chars of bench output; the compact
    // trailer line must always fit inside it with room for sbt's epilogue
    val names = SparkEntry.queries.keys.toSeq.sorted
    val timed = names.map(n => (n, 1.5, true)) :+
      ("q999_synthetic_failure", -1.0, false)
    val line = Bench.compactJson(timed, "/root/testdata/sf0.1",
      Some((0.9, 3.5)), Some("scale/bench_full_sf0.1.json"))
    assert(line.length < 1500, s"compact line too wide: ${line.length}")
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.contains(""""queries":{}"""))
    assert(line.contains(""""failed":["q999_synthetic_failure"],"failed_n":1"""))
    assert(line.contains(""""canary_st":0.900,"canary_mt":3.500"""))
    assert(line.contains(""""full":"scale/bench_full_sf0.1.json""""))
    // a run where EVERY query fails (e.g. a bad data dir) must stay
    // parseable too: the name list is capped, the count is not
    val allFailed = Bench.compactJson(names.map(n => (n, -1.0, false)),
      "/data/sf0.1", Some((0.9, 3.5)), None)
    assert(allFailed.length < 2000, s"compact line too wide: ${allFailed.length}")
    assert(allFailed.contains(s""""failed_n":${names.size}"""))
    val listed = """"failed":\[([^\]]*)\]""".r
      .findFirstMatchIn(allFailed).get.group(1).split(',')
    assert(listed.toSeq == names.take(Bench.compactFailedCap).map(n => s"\"$n\""))
    // no full-line file was written: no pointer to one
    assert(!allFailed.contains("\"full\""))
  }

  test("bench JSON numbers stay JSON under a decimal-comma default locale") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val timed = Seq(("q01_a", 1.25, true), ("q02_b", -1.0, false))
      val compact = Bench.compactJson(timed, "/x", Some((0.9, 3.5)), None)
      assert(compact.contains(""""canary_st":0.900,"canary_mt":3.500"""))
      val full = Bench.resultJson(timed, "/x", Some((0.9, 3.5)),
        Seq((1.25, 2.5)))
      assert(full.contains(""""block_canary_st":[1.250],"block_canary_mt":[2.500]"""))
      assert(Bench.parseCanary(full) == Some((0.9, 3.5)))
      assert(Bench.parseQueries(full) == Seq(("q01_a", 1.25), ("q02_b", -1.0)))
    } finally java.util.Locale.setDefault(saved)
  }

  test("blocks of 16 partition the registry with no loss or overlap") {
    val all = Bench.selected("")
    val blocks = all.grouped(16).toSeq
    assert(blocks.flatten == all)
    assert(blocks.map(_.size).sum == SparkEntry.queries.size)
  }
}
