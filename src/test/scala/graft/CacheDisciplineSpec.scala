package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every cache `src/main` takes goes through [[graft.core.CacheScope]], so
  * the run that owns it can free it. The check scans the sources for a
  * bare persist, cache or local checkpoint outside CacheScope.scala and
  * fails on any that is not one of the named exceptions below. A persist
  * called on a handle named `scope` is the tracked one.
  */
class CacheDisciplineSpec extends AnyFunSuite {
  private val bare =
    """(?<!\bscope)\.persist\(|\.cache\(\)|localCheckpoint\(""".r
  // a member of a top-level object: the unit an exception can name
  private val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored

  private final case class Site(file: String, line: Int, member: String,
      code: String)

  /** (file name test, enclosing member or "" for the whole file, reason). */
  private val exceptions: Seq[(String => Boolean, String, String)] = Seq(
    (_.endsWith("Bench.scala"), "",
      "a rehearsal main: the inputs it caches are the harness's own"),
    (_ == "Dedup.scala", "connectedComponents",
      "its per-round checkpoints become the result's lineage"))

  /** The code lines of `f` that cache without a scope. */
  private def sites(f: Path): Seq[Site] = {
    var enclosing = ""
    Files.readAllLines(f).asScala.toSeq.zipWithIndex.flatMap { case (l, i) =>
      l match { case member(m) => enclosing = m; case _ => }
      val code = l.split("//")(0)
      val comment = code.trim.startsWith("*") || code.trim.startsWith("/*")
      if (comment || bare.findFirstIn(code).isEmpty) None
      else Some(Site(f.getFileName.toString, i + 1, enclosing, l.trim))
    }
  }

  private def exception(s: Site): Int = exceptions.indexWhere {
    case (file, m, _) => file(s.file) && (m.isEmpty || m == s.member)
  }

  test("src/main caches only through CacheScope, apart from named exceptions") {
    val files = Files.walk(Paths.get("src", "main", "scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} source files")
    val found = files.filterNot(_.getFileName.toString == "CacheScope.scala")
      .flatMap(sites)
    val offenders = found.filter(exception(_) < 0)
    assert(offenders.isEmpty,
      "cache through a CacheScope (persist, checkpoint or using), or name " +
        "the exception here with its reason:\n" +
        offenders.map(s => s"${s.file}:${s.line}: ${s.code}").mkString("\n"))
    val used = found.map(exception).toSet
    val stale = exceptions.indices.filterNot(used).map(exceptions(_)._3)
    assert(stale.isEmpty, s"exceptions that match no site any more: $stale")
  }
}
