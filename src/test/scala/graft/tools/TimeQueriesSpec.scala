package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Argument parsing of the TimeQueries dev tool: flags never reach the
  * query lookup (an unfiltered `-phases` used to fail as a query name). */
class TimeQueriesSpec extends AnyFunSuite {

  test("every leading-dash arg is a flag, the rest are query names in order") {
    val (flags, names) = TimeQueries.parseArgs(
      Seq("-phases", "graph_bfs", "-metrics", "dedup_clusters"))
    assert(flags == Set("-phases", "-metrics"))
    assert(names == Seq("graph_bfs", "dedup_clusters"))
  }

  test("flags alone select the default query; no args too") {
    assert(TimeQueries.parseArgs(Seq("-phases")) == (Set("-phases"), Seq("dedup_simhash")))
    assert(TimeQueries.parseArgs(Nil) == (Set.empty[String], Seq("dedup_simhash")))
  }
}
