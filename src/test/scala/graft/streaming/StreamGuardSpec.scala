package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** A landing directory becomes a stream in one place, `StreamSum.fileStream`
  * (its schema read from one footer on the driver), and a streaming
  * query runs to completion in one place, `StreamSum.drain` (or the
  * memory-sink harness `StreamSum.runToTable`). Hand-rolled sources and
  * run loops, and the schema-inference job a `.parquet(..).schema` read
  * starts, must not come back.
  */
class StreamGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val streamSum = Paths.get("graft/streaming/StreamSum.scala")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the project root, not $root")
    val all = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(all.size > 50)
    all
  }

  /** `src` without the body of `def name`: from the def to the brace
    * that closes the body it opens.
    */
  private def withoutDef(src: String, name: String): String = {
    val at = src.indexOf(s"def $name(")
    assert(at >= 0, s"StreamSum has no def $name")
    val open = src.indexOf('{', src.indexOf(")", at))
    var (i, depth) = (open, 0)
    do {
      if (src(i) == '{') depth += 1
      else if (src(i) == '}') depth -= 1
      i += 1
    } while (depth > 0)
    src.substring(0, at) + src.substring(i)
  }

  test("readStream, .trigger and awaitTermination appear only in " +
       "fileStream, drain and runToTable") {
    val offenders = sources.flatMap { (f: Path) =>
      val src = Files.readString(f)
      val text =
        if (f.endsWith(streamSum))
          Seq("fileStream", "drain", "runToTable").foldLeft(src)(withoutDef)
        else src
      Seq(".readStream", ".trigger(", ".awaitTermination", "Trigger.AvailableNow")
        .filter(text.contains).map(w => s"$f: $w")
    }
    assert(offenders.isEmpty,
      "streams start in StreamSum.fileStream and run in StreamSum.drain:\n" +
        offenders.mkString("\n"))
  }

  test("no .parquet(..).schema read in graft/streaming or SignatureStore") {
    val schemaRead = """\.parquet\((?:[^()]|\([^()]*\))*\)\s*\.schema\b""".r
    val scoped = sources.filter { f =>
      f.startsWith(root.resolve("graft/streaming")) ||
        f.endsWith(Paths.get("graft/pipeline/SignatureStore.scala"))
    }
    assert(scoped.size >= 5)
    val offenders = scoped.flatMap { f =>
      schemaRead.findAllIn(Files.readString(f)).map(m => s"$f: $m")
    }
    assert(offenders.isEmpty,
      "read a landing schema with GraftBridge.parquetSchema (no job):\n" +
        offenders.mkString("\n"))
  }
}
