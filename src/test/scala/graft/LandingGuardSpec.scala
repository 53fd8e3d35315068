package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{DocStreams, LexStreams, StreamTune, VecStreams}
import graft.util.Staging

/** The bounded-batch guard of the CDC and upsert drains is decided from
  * the landing the stager RETURNED. Each case starts from a source whose
  * landing does not exist yet under the fixture root (a first run): the
  * guard must have read the staged landing's real, non-zero byte count
  * — not the 0 bytes of a landing sized before it was staged. */
class LandingGuardSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  /** A private copy of one source table: its keyed landings and fold
    * bases are absent until a drain stages them. */
  private def freshSource(file: String): Path = {
    val d = Files.createTempDirectory("guard-src")
    Files.copy(Paths.get(SparkTestSession.sf, file), d.resolve(file))
    d
  }

  private def cleanup(src: Path, work: Path, kinds: String*): Unit = {
    kinds.foreach { k =>
      DocStreams.deleteTree(Staging.keyedDir(k, src.toString))
      DocStreams.deleteTree(Staging.keyedDir(k, src.toString, "-4"))
    }
    DocStreams.deleteTree(work)
    DocStreams.deleteTree(src)
  }

  private def assertStagedGuard(guard: LexStreams.LandingGuard,
      landing: Path): Unit = {
    assert(Files.isDirectory(landing), s"drain did not stage $landing")
    assert(guard.landingBytes > 0L, s"guard read an empty landing: $guard")
    assert(guard.landingBytes == StreamTune.sourceBytes(landing),
      s"guard read ${guard.landingBytes} B, staged landing holds " +
        s"${StreamTune.sourceBytes(landing)} B")
    assert(guard.bounded)
  }

  test("lexical CDC and upsert drains guard on their staged landing's bytes") {
    val src = freshSource("documents.parquet")
    val work = Files.createTempDirectory("guard-work")
    val d = src.toString
    val cdcLanding = Staging.keyedDir("stream-docs-cdc", d, "-4")
    val updLanding = Staging.keyedDir("stream-docs-upsert", d, "-4")
    try {
      assert(!Files.exists(cdcLanding) && !Files.exists(updLanding))
      LexStreams.ensureFoldBase(spark, d)
      assertStagedGuard(LexStreams.cdcDrain(spark, d, work.resolve("cdc")),
        cdcLanding)
      assertStagedGuard(LexStreams.upsertDrain(spark, d, work.resolve("upd")),
        updLanding)
    } finally cleanup(src, work, "documents_lex_fold", "stream-docs-cdc",
      "stream-docs-upsert")
  }

  test("vector CDC drain guards on its staged landing's bytes") {
    val src = freshSource("embeddings.parquet")
    val work = Files.createTempDirectory("guard-work")
    val d = src.toString
    val landing = Staging.keyedDir("stream-vecs-cdc", d, "-4")
    try {
      assert(!Files.exists(landing))
      VecStreams.ensureFoldBase(spark, d)
      assertStagedGuard(VecStreams.cdcVecDrain(spark, d, work), landing)
    } finally cleanup(src, work, "embeddings_ivf_fold", "stream-vecs-cdc")
  }
}
