package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared consumers of each priced build are the one source the
  * subset tools pre-build from, so they must name real registry queries
  * and cover every build.
  */
class MaterializationsSpec extends AnyFunSuite {

  test("every declared consumer is a registry query") {
    val registry = SparkEntry.queries.keySet
    Materializations.builds.foreach { b =>
      assert((b.consumers -- registry).isEmpty, b.name)
    }
  }

  test("every build has at least one consumer") {
    Materializations.builds.foreach(b => assert(b.consumers.nonEmpty, b.name))
  }

  test("the journal rows consume m_incremental_history") {
    val journal = Seq("q_rollup_report", "q_rollup_report_compacted",
      "q_quantile_hist", "q_psi_journal")
    val history = Materializations.builds
      .find(_.name == "m_incremental_history").get
    journal.foreach(q => assert(history.consumers(q), q))
  }
}
