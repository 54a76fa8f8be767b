package graft.ops

/** The benchmark's window onto the engine's package-private staging
  * state: the per-tag index-build seconds the engine logs, and the
  * removal of one data era's staged indexes (so a set-up pays the cold
  * `Prestage.run` every time).
  */
object BenchHooks {
  def drainBuildLog(): Map[String, Double] = Staging.drainBuildLog()
  def clearEraIndexes(dir: String): Int = Staging.clearEraIndexes(dir)
}
