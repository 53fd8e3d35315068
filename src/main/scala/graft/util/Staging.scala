package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame

/** The staleness contract for everything graft derives from a source
  * directory and keeps on disk: serve and fold-base layouts, staged
  * aggregate state, trained codebooks and stream landings. One rule,
  * stated once:
  *
  *  - the SIGNATURE names the source state plus the build transform —
  *    by convention [[sourceSig]], the source file's exact
  *    `size:mtime`, behind a version tag whenever the transform itself
  *    changes (`l4:nb=64:...`), so changed build code never serves an
  *    old build;
  *  - the REQUIRED FILES are names that must sit in the dir beside the
  *    marker (`_SUCCESS`, the landing's part files): a marker that
  *    survives deleted data must not pass as fresh;
  *  - a stale dir is deleted whole and rebuilt — never patched — and
  *    the marker is written LAST, after the build returns, so a crash
  *    mid-build leaves no marker and the next call rebuilds.
  *
  * Derived layouts carry the `_STAGED_SIG` marker ([[ensure]]); stream
  * landings carry `_STAGED` ([[stageLanding]], [[stageCopy]]). Every
  * such dir lives under [[root]], read once from `GRAFT_FIXTURE_DIR`.
  * Builds are serialized on this object: two callers never build one
  * dir at once.
  */
object Staging {

  /** Root of every derived dir: `GRAFT_FIXTURE_DIR`, else
    * `target/fixtures` under the working directory. */
  val root: String = sys.env.getOrElse("GRAFT_FIXTURE_DIR",
    Paths.get("target", "fixtures").toAbsolutePath.toString)

  /** `<root>/<kind>/<keyedName(src)><suffix>` — the one place a dir
    * derived from source dir `src` lives. */
  def keyedDir(kind: String, src: String, suffix: String = ""): Path =
    Paths.get(root, kind, PathKeys.keyedName(src) + suffix)

  /** `<prefix>-000.parquet` … — the part names of an `n`-part landing. */
  def partNames(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => f"$prefix-$i%03d.parquet")

  /** `<tag><size>:<mtimeMillis>` of one source file. */
  def sourceSig(src: Path, tag: String = ""): String =
    s"$tag${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}"

  private val SigMarker = "_STAGED_SIG"
  private val LandingMarker = "_STAGED"

  /** Build `dir` unless its `_STAGED_SIG` marker holds `sig` and every
    * `required` file is present. Returns the build's result when it
    * ran, `None` when the dir was fresh. */
  def ensure[T](dir: Path, sig: String, required: Seq[String] = Nil)(
      build: => T): Option[T] =
    ensureMarked(dir, SigMarker, sig, required)(build)

  /** The signature a layout was built under — serving caches key on
    * it, so a rebuild invalidates them. */
  def signature(dir: Path): String =
    new String(Files.readAllBytes(dir.resolve(SigMarker)), UTF_8)

  private def ensureMarked[T](dir: Path, marker: String, sig: String,
      required: Seq[String])(build: => T): Option[T] = synchronized {
    val m = dir.resolve(marker)
    val fresh = Files.exists(m) &&
      required.forall(f => Files.exists(dir.resolve(f))) &&
      new String(Files.readAllBytes(m), UTF_8) == sig
    if (fresh) None
    else {
      graft.streaming.DocStreams.deleteTree(dir)
      Files.createDirectories(dir)
      val out = build
      Files.write(m, sig.getBytes(UTF_8))
      Some(out)
    }
  }

  /** Stage a stream landing: part i of `parts` lands as ONE parquet
    * file `names(i)` whose mtime is staggered by its arrival position
    * (`position(i)`, default i), so a file source reading one file per
    * trigger replays the parts as successive micro-batches. `parts` is
    * evaluated only when the landing is stale. Returns the landing. */
  def stageLanding(landing: Path, sig: String, names: Seq[String],
      position: Int => Int = identity)(parts: => Seq[DataFrame]): Path = {
    ensureMarked(landing, LandingMarker, sig, names) {
      val tmp = landing.resolve("_tmp")
      parts.zip(names).zipWithIndex.foreach { case ((rows, name), i) =>
        rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Using.resource(Files.list(tmp)) { st =>
          st.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error(s"landing part $name produced no parquet file"))
        }
        val dst = landing.resolve(name)
        Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          FileTime.fromMillis(1_000_000_000_000L + position(i) * 60_000L))
      }
      graft.streaming.DocStreams.deleteTree(tmp)
    }
    landing
  }

  /** Stage a one-file landing: `src` copied in with its attributes.
    * Returns the landing. */
  def stageCopy(landing: Path, src: Path): Path = {
    val name = src.getFileName.toString
    ensureMarked(landing, LandingMarker, sourceSig(src), Seq(name)) {
      Files.copy(src, landing.resolve(name), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.COPY_ATTRIBUTES)
    }
    landing
  }
}
