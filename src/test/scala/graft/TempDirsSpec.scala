package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A suite's temp dirs are gone once it ends, and every spec makes its
  * temp dirs through [[TempDirs]]. */
class TempDirsSpec extends AnyFunSuite {
  test("a suite's tempDir dirs are deleted after its last test, failed or not") {
    var made = Seq.empty[Path]
    class Planted extends AnyFunSuite with TempDirs {
      test("passes") { made :+= tempDir("graft_tempdirs_a"); Files.writeString(made.last.resolve("f"), "x") }
      test("fails") { made :+= tempDir("graft_tempdirs_b"); fail("planted") }
    }
    val silent = new org.scalatest.Reporter { def apply(e: org.scalatest.events.Event): Unit = () }
    new Planted().run(None, org.scalatest.Args(silent))
    assert(made.size == 2 && made.forall(!Files.exists(_)), made)
  }

  test("withTempDir deletes its dir when the body throws") {
    var dir: Path = null
    intercept[IllegalStateException](TempDirs.withTempDir("graft_tempdirs_c") { d =>
      dir = d; throw new IllegalStateException("planted")
    })
    assert(dir != null && !Files.exists(dir))
  }

  test("no spec calls createTempDirectory outside TempDirs and TestSpark") {
    val allowed = Set("TempDirs.scala", "TestSpark.scala", "TempDirsSpec.scala")
    val st = Files.walk(Paths.get("src/test/scala"))
    val bare = try st.iterator.asScala.filter(p => p.toString.endsWith(".scala") &&
        !allowed(p.getFileName.toString) &&
        Files.readString(p).contains("createTempDirectory")).toList
      finally st.close()
    assert(bare.isEmpty, s"use graft.TempDirs: $bare")
  }
}
