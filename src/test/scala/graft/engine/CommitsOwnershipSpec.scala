package graft.engine

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The commit protocol has one owner: no module of the engine or the
  * streaming layer but [[Commits]] spells the ledger's path, the marker's
  * exclusive create, the swap's renames or the marker's rows format, so
  * none of them can drift from the others. Reads the source tree, which
  * the forked test JVM sees as its working directory.
  */
class CommitsOwnershipSpec extends AnyFunSuite {

  private val sources: Seq[Path] =
    Seq("engine", "streaming").flatMap { d =>
      val s = Files.list(Path.of("src/main/scala/graft", d))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }

  test("only Commits.scala knows the commit protocol") {
    assert(sources.exists(_.getFileName.toString == "Commits.scala"))
    for (token <- Seq("_graft_commits", "FileAlreadyExistsException",
        ".rename(", "\"rows\":(")) {
      val owners = sources.filter(f => Files.readString(f).contains(token))
        .map(_.getFileName.toString)
      assert(owners == Seq("Commits.scala"), s"$token appears in $owners")
    }
  }
}
