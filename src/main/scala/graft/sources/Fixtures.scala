package graft.sources

/** Where the committed fixtures live: `fixtures/` under the working
  * directory, resolved once to an absolute path. The mains and the
  * tests run from the repository root (sbt forks `run` and the tests
  * there), so every checkout — a second one exported for an A/B
  * included — reads its own fixtures. */
object Fixtures {
  val root: String =
    java.nio.file.Paths.get("fixtures").toAbsolutePath.normalize.toString
}
