package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The fixture root is the working directory's `fixtures/`, so each
  * checkout reads its own — never an absolute path into another one. */
class FixturesSpec extends AnyFunSuite {
  test("the fixture root lies under user.dir and holds the fixtures") {
    val cwd = java.nio.file.Paths.get(System.getProperty("user.dir"))
      .toAbsolutePath.normalize
    val root = java.nio.file.Paths.get(Fixtures.root)
    assert(root.isAbsolute && root.startsWith(cwd), s"$root not under $cwd")
    Seq(F1Tables.FixtureDir, CsvMeta.FixtureFile, JsonlCorpus.FixtureFile)
      .foreach { p =>
        assert(p.startsWith(Fixtures.root + "/"), p)
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p)), p)
      }
  }
}
