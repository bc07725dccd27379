package graft

/** Targeted log hygiene, applied by [[Sessions]] to every session it builds
  * (never by the ops library — a library must not mutate global logging):
  * the engine's bounded global windows (per-shuffle-partition offset
  * tables, vocab-cap ranks, value-alphabet cumulatives — every one provably
  * #partitions-/#vocab-/#bins-bounded, audited in SURVEY §7.6) each emit
  * "WindowExec: No Partition Defined … serious performance degradation" on
  * every execution, which put ~1,600 identical lines in every verify/bench
  * log and buried real warnings (r17 verdict, cosmetic item).
  *
  * Why not `partitionBy(lit(0))` on those windows instead: Spark 4's
  * `EliminateWindowPartitions` optimizer rule removes FOLDABLE partition
  * expressions, so the constant spec is gone by execution time and the
  * warning fires anyway (measured: identical warning counts with and
  * without). A per-logger level is the remaining lever; scoped to exactly
  * the WindowExec logger so every other executor/planner warning keeps
  * flowing.
  */
object LogHygiene {
  def quietBoundedWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
