package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The engine's "pay the shuffle once at ingest" levers as a NAMED,
  * priceable registry. Each entry builds one materialized layout that
  * consumer queries then read in steady state:
  *
  *   - `m_bucketed_tables`     — orders/customer written bucketed+sorted
  *     on custkey (`queries.Joins.ensureBucketed`): the zero-exchange
  *     layout `q_join_bucketed` reads.
  *   - `m_incremental_history` — the analytics/journal/compaction tables
  *     (`queries.Incremental.ensureBuilt`) behind the q_incremental_*
  *     and journal-fold families.
  *   - `m_triangle_state`      — the wedge-join triangle/support tables
  *     (`ext.Graph.writeTriangleState`, the suite's largest shuffle)
  *     behind `q_triangles_state`/`q_clustering_coeff`/`q_ktruss`.
  *   - `m_dedup_state`         — the minhash→verify→cluster near-dup
  *     state (`engine.Pipeline.writeDedupState`) behind
  *     `q_dedup_state_kept`.
  *   - `m_dedup_state_incr`    — half-corpus build + incremental fold
  *     (`engine.Pipeline.updateDedupState`) behind `q_dedup_state_incr`.
  *
  * Why a registry: the amortization claim ("the wedge enumeration runs
  * exactly once per corpus version") is only honest if the one-time cost
  * is a measured, committed ledger line. Before this existed the gate
  * bench billed each build to whichever consumer ran first alphabetically
  * (r14: `q_clustering_coeff` read 34.8 s against a ~0.45 s steady-state
  * plan) and the scale ledgers' untimed pre-pass excluded it from every
  * row — real work, priced nowhere. Bench and ScaleSuite now run these
  * FIRST, timed, and emit a `materializations` section (wall + shuffle
  * bytes, and growth factors across fixtures in the scale ledgers).
  *
  * Builds go through the SAME Scratch-cached entry points the consumer
  * queries call, so pricing the build here simultaneously warms the cache
  * the consumers read — the consumer rows then measure steady-state reads
  * by construction, not by suite-order luck.
  */
object Materializations {

  /** One priced build: its name, the registry queries that read its
    * tables, and the build itself. The consumer list is the one place
    * that says which build a query needs, so every tool that runs a
    * subset of the registry pre-builds from it.
    */
  final case class Build(name: String, consumers: Set[String],
      run: (SparkSession, String) => Unit)

  /** Build order is alphabetical and entries are independent — no build
    * reads another's output.
    */
  val builds: Seq[Build] = Seq(
    Build("m_bucketed_tables", Set("q_join_bucketed"),
      (s, d) => { queries.Joins.ensureBucketed(s, d); () }),
    Build("m_dedup_state", Set("q_dedup_state_kept"),
      (s, d) => { queries.Docs.dedupStateDir(s, d); () }),
    Build("m_dedup_state_incr", Set("q_dedup_state_incr"),
      (s, d) => { queries.Docs.dedupStateIncrDir(s, d); () }),
    Build("m_incremental_history", Set("q_incremental_latest",
        "q_incremental_compacted", "q_incremental_backfilled",
        "q_incremental_prune", "q_dedup_incremental", "q_rollup_report",
        "q_rollup_report_compacted", "q_quantile_hist", "q_psi_journal"),
      (s, d) => queries.Incremental.ensureBuilt(s, d)),
    Build("m_triangle_state",
      Set("q_triangles_state", "q_clustering_coeff", "q_ktruss"),
      (s, d) => { queries.Joins.triStateDir(s, d); () }),
  )

  /** The builds at least one of `names` reads, in build order. */
  def consumedBy(names: Iterable[String]): Seq[Build] =
    builds.filter(b => names.exists(b.consumers))

  /** Run, untimed, every build `names` reads at `dir`, so a timed run of
    * a subset measures steady-state reads as the full suite does. A
    * failing build is reported and skipped: its consumers then fail
    * under their own names, and the other names still run.
    */
  def prebuild(spark: SparkSession, names: Iterable[String],
      dir: String): Unit =
    consumedBy(names).foreach { b =>
      try b.run(spark, dir)
      catch { case NonFatal(e) =>
        System.err.println(s"PREBUILD ${b.name} FAILED ${e.getMessage}") }
      finally Bench.resetState(spark)
    }
}
