package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` setting the library reads is documented: the
  * README's Settings table and the keys named in `src/main` are the same
  * set, so a new setting cannot land undocumented and a deleted one
  * cannot linger in the table. The other cases keep a decision written
  * once in `src/main` from being written a second time. */
class SettingsInventorySpec extends AnyFunSuite {

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** `spark.graft.<group>.<name>` anywhere in the text; the lookbehind
    * skips the `org.apache.spark.graft` package that holds CoreBridge. */
  private val key = """(?<![\w.])spark\.graft\.[A-Za-z]\w*\.[A-Za-z]\w*""".r

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  test("README Settings table lists exactly the spark.graft.* keys src/main reads") {
    val inCode = mainSources.flatMap(p => key.findAllIn(read(p))).toSet

    val readme = read(Paths.get("README.md")).linesIterator.toSeq
    val section = readme.dropWhile(_ != "## Settings").drop(1).takeWhile(!_.startsWith("## "))
    assert(section.nonEmpty, "README must have a '## Settings' section")
    val inTable = section.filter(_.startsWith("| `spark.graft."))
      .flatMap(l => key.findFirstIn(l)).toSet

    assert(inCode.nonEmpty)
    assert((inCode -- inTable).isEmpty,
      s"settings read in src/main but missing from README's table: ${(inCode -- inTable).toSeq.sorted}")
    assert((inTable -- inCode).isEmpty,
      s"README's table lists settings src/main no longer reads: ${(inTable -- inCode).toSeq.sorted}")
  }

  /** `p`'s code without comments or whitespace, so a call split across
    * lines still reads as one token run and a comment naming it does not. */
  private def code(p: Path): String =
    read(p).replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("//[^\n]*", "")
      .replaceAll("""\s+""", "")

  test("src/main builds sessions in one place and reads size estimates only in SizeGate") {
    val sources = mainSources.map(p => p.getFileName.toString -> code(p))
    val builders = sources.flatMap { case (f, c) =>
      Seq.fill("SparkSession.builder".r.findAllIn(c).size)(f) }
    assert(builders == Seq("BenchUtil.scala"),
      s"SparkSession builders outside BenchUtil.session: $builders")
    val estimates = sources.collect {
      case (f, c) if c.contains("optimizedPlan.stats.sizeInBytes") => f }
    assert(estimates == Seq("SizeGate.scala"),
      s"plan size estimates read outside SizeGate.estimate: $estimates")
  }

  /** `c` without the body of its one `def <name>(...)...{...}`. */
  private def withoutDef(c: String, name: String): String = {
    val start = c.indexOf(s"def$name(")
    assert(start >= 0 && c.indexOf(s"def$name(", start + 1) < 0, s"no single def $name")
    var i = c.indexOf('{', start)
    var depth = 0
    do {
      if (c(i) == '{') depth += 1 else if (c(i) == '}') depth -= 1
      i += 1
    } while (depth > 0)
    c.substring(0, start) + c.substring(i)
  }

  test("the matcher reads the song, song alias and album tables only in MatchOps.serving") {
    val dir = Paths.get("src/main/scala/graft/musicbrainz")
    val matchOps = code(dir.resolve("MatchOps.scala"))
    assert(matchOps.contains("mbSongAlias"), "MatchOps.serving no longer reads mb_song_alias")
    for ((f, c) <- Seq("MatchOps.scala" -> withoutDef(matchOps, "serving"),
        "MatcherIndex.scala" -> code(dir.resolve("MatcherIndex.scala")));
        table <- Seq("mbSong", "mbSongAlias", "mbAlbum"))
      assert(!c.contains(table), s"$f reads $table outside MatchOps.serving: a second serving query")
  }
}
