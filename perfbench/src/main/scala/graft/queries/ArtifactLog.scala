package graft.queries

/** Read-only view of the query packs' shared-artifact build log for the
  * benchmark harness: [[DirCached]] is package-private, so the harness
  * reads it from inside the package. */
object ArtifactLog {

  /** Build seconds recorded so far, per artifact name, summed over dirs. */
  def buildSeconds: Seq[(String, Double)] = DirCached.buildSeconds
}
