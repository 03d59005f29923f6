package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Session memos live in one registry: a per-module memo map (and the
  * stopped-session sweep every such map needs) must not come back.
  * `graft.core.Memo` is the one place for both. The single exception is
  * `LshMath.signCache`, a JVM-wide table of pure math that holds no
  * session and needs no release.
  */
class MemoGuardSpec extends AnyFunSuite {

  /** LshMath's declaration, the one allowed hit (NativeExpressions.scala). */
  private val allowed =
    """private val signCache =\s+new java\.util\.concurrent\.ConcurrentHashMap""".r

  test("ConcurrentHashMap and isStopped appear only in graft.core.Memo") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root, not $root")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft/core/Memo.scala")))
      .toSeq
    assert(sources.size > 50)
    val offenders = sources.flatMap { (f: Path) =>
      val src = Files.readString(f)
      val text =
        if (f.endsWith("NativeExpressions.scala")) allowed.replaceFirstIn(src, "")
        else src
      Seq("ConcurrentHashMap", ".isStopped")
        .filter(text.contains).map(w => s"$f: $w")
    }
    assert(offenders.isEmpty,
      "memo state belongs in graft.core.Memo:\n" + offenders.mkString("\n"))
  }
}
