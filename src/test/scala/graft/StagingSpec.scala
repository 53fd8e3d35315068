package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.DocStreams
import graft.util.Staging

/** The staleness contract of [[Staging.ensure]]: a dir is rebuilt when
  * its signature changes or a required file is gone, a build that fails
  * leaves no marker (so the next call rebuilds), and a fresh dir is
  * never rebuilt. */
class StagingSpec extends AnyFunSuite {

  private def withDir(body: Path => Unit): Unit = {
    val root = Files.createTempDirectory("staging-spec")
    try body(root.resolve("layout")) finally DocStreams.deleteTree(root)
  }

  /** A build that writes `data` and counts its runs. */
  private final class Build(dir: Path) {
    var runs = 0
    def apply(): Int = {
      runs += 1
      Files.write(dir.resolve("data"), s"run $runs".getBytes(UTF_8))
      runs
    }
  }

  test("a fresh dir is not rebuilt; a new signature rebuilds from an empty dir") {
    withDir { dir =>
      val b = new Build(dir)
      assert(Staging.ensure(dir, "v1:10:20", Seq("data"))(b()) == Some(1))
      Files.write(dir.resolve("stray"), Array[Byte](1))
      assert(Staging.ensure(dir, "v1:10:20", Seq("data"))(b()).isEmpty)
      assert(Staging.signature(dir) == "v1:10:20")
      assert(Staging.ensure(dir, "v2:10:20", Seq("data"))(b()) == Some(2))
      assert(Staging.signature(dir) == "v2:10:20")
      assert(!Files.exists(dir.resolve("stray")), "a stale dir is rebuilt whole")
    }
  }

  test("a marker over a missing required file does not pass as fresh") {
    withDir { dir =>
      val b = new Build(dir)
      Staging.ensure(dir, "s", Seq("data"))(b())
      Files.delete(dir.resolve("data"))
      assert(Staging.ensure(dir, "s", Seq("data"))(b()) == Some(2))
      assert(Files.exists(dir.resolve("data")))
    }
  }

  test("the marker is written last: a failed build is retried by the next call") {
    withDir { dir =>
      intercept[IllegalStateException] {
        Staging.ensure(dir, "s")(throw new IllegalStateException("build failed"))
      }
      assert(Files.isDirectory(dir))
      val b = new Build(dir)
      assert(Staging.ensure(dir, "s")(b()) == Some(1))
      assert(Staging.ensure(dir, "s")(b()).isEmpty)
    }
  }
}
