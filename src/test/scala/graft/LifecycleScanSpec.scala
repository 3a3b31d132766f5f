package graft

import java.nio.file.{Files, Path => JPath, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source scans of `src/main` (the ParquetReadSpec pattern). One artifact
  * lifecycle: an appendable kind is an [[Artifact]] descriptor run by
  * Materialize's descriptor faces, so `src/main` declares no per-kind
  * `appendTo…` / `compact<Kind>` face and no operator calls the closure
  * forms of the append and compact primitives, nor hand-codes the refresh
  * dispatch that `Materialize.refreshAuto` holds. Test-only code lives in the
  * specs: no composed reference twin or `…ForTest` def, and no stream is
  * started outside the ingest cadence. Driver-side memory of computed
  * results lives in [[Memo]] only. Every doc comment documents the
  * definition under it. */
class LifecycleScanSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources(under: JPath): Seq[(JPath, String)] = {
    assert(Files.isDirectory(under), s"run from the project root: no $under")
    Files.walk(under).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toSeq
  }

  private def at(p: JPath, src: String, offset: Int): String =
    s"$p:${src.substring(0, offset).count(_ == '\n') + 1}"

  test("src/main declares no per-kind appendTo or compact face") {
    val face = """def\s+(appendTo\w*|compact(?!IfDue\b|CadenceIfDue\b|Plan\b)[A-Z]\w*)""".r
    val offenders = sources(root).flatMap { case (p, src) =>
      face.findAllMatchIn(src).map(m => s"${at(p, src, m.start)} ${m.group(1)}")
    }
    assert(offenders.isEmpty,
      s"per-kind lifecycle faces (declare an Artifact instead): ${offenders.mkString(", ")}")
  }

  /** A `Materialize.append/appendBatch/compact/compactIfDue(...)` call
    * followed by a second argument list is the closure form of the
    * primitive; `appendBatch` has no other form. */
  private def closureCalls(src: String): Seq[(Int, String)] = {
    val call = """Materialize\s*\.\s*(append|appendBatch|compact|compactIfDue)\s*\(""".r
    call.findAllMatchIn(src).filter { m =>
      var i = m.end
      var depth = 1
      var inString = false
      while (depth > 0 && i < src.length) {
        val ch = src(i)
        if (inString) { if (ch == '"' && src(i - 1) != '\\') inString = false }
        else if (ch == '"') inString = true
        else if (ch == '(') depth += 1
        else if (ch == ')') depth -= 1
        i += 1
      }
      val next = src.substring(i).dropWhile(_.isWhitespace).take(1)
      m.group(1) == "appendBatch" || next == "(" || next == "{"
    }.map(m => m.start -> m.group(1)).toSeq
  }

  test("operators call the append and compact primitives only through a descriptor") {
    val offenders = sources(root.resolve("graft/operators")).flatMap { case (p, src) =>
      closureCalls(src).map { case (o, name) => s"${at(p, src, o)} Materialize.$name" }
    }
    assert(offenders.isEmpty,
      s"closure-form lifecycle calls in operators: ${offenders.mkString(", ")}")
  }

  test("operators dispatch a refresh only through Materialize.refreshAuto") {
    val call = """\b(isDeltaBase|refreshPlan)\s*\(""".r
    val offenders = sources(root.resolve("graft/operators")).flatMap { case (p, src) =>
      call.findAllMatchIn(src).map(m => s"${at(p, src, m.start)} ${m.group(1)}")
    }
    assert(offenders.isEmpty,
      s"hand-coded refresh dispatch in operators: ${offenders.mkString(", ")}")
  }

  test("src/main declares no composed reference twin or ForTest def") {
    val twin = """def\s+(\w+Composed|\w*ForTest)\b""".r
    val offenders = sources(root).flatMap { case (p, src) =>
      twin.findAllMatchIn(src).map(m => s"${at(p, src, m.start)} ${m.group(1)}")
    }
    assert(offenders.isEmpty,
      s"test-only defs (move them to the spec that uses them): ${offenders.mkString(", ")}")
  }

  test("src/main starts a stream only in StreamOps.ingestCadenceStream") {
    val defName = """def\s+(\w+)""".r
    val offenders = sources(root).flatMap { case (p, src) =>
      """\bwriteStream\b""".r.findAllMatchIn(src).filterNot { m =>
        p.endsWith(Paths.get("graft/streaming/StreamOps.scala")) &&
          defName.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
            .exists(_.group(1) == "ingestCadenceStream")
      }.map(m => at(p, src, m.start))
    }
    assert(offenders.isEmpty,
      s"writeStream outside the ingest cadence: ${offenders.mkString(", ")}")
  }

  test("src/main holds no cache map outside Memo") {
    // Materialize's two concurrent maps are a lock table and a set of
    // ensured paths, not caches of computed results
    val allowed = Set("artifactLocks", "ensuredThisSession")
    val map = """\b(TrieMap|ConcurrentHashMap)\b""".r
    val valName = """\bval\s+(\w+)""".r
    // the val declared on the line of `at` or the line above
    def declared(src: String, at: Int): Option[String] = {
      val from = src.lastIndexOf('\n', src.lastIndexOf('\n', at - 1) - 1) + 1
      valName.findAllMatchIn(src.substring(from, at)).toSeq.lastOption.map(_.group(1))
    }
    val offenders = sources(root).flatMap { case (p, src) =>
      map.findAllMatchIn(src).filterNot { m =>
        p.endsWith(Paths.get("graft/Memo.scala")) ||
          p.endsWith(Paths.get("graft/Materialize.scala")) &&
            m.group(1) == "ConcurrentHashMap" && declared(src, m.start).exists(allowed)
      }.map(m => s"${at(p, src, m.start)} ${m.group(1)}")
    }
    assert(offenders.isEmpty,
      s"hand-rolled caches (hold computed results in Memo): ${offenders.mkString(", ")}")
  }

  test("no doc comment is followed directly by another doc comment") {
    // the first of two stacked docs documents nothing: scaladoc attaches
    // only the second to the definition below
    def stacked(src: String): Seq[Int] =
      Iterator.iterate(src.indexOf("/**"))(i => src.indexOf("/**", i + 1))
        .takeWhile(_ >= 0).filter { i =>
          val end = src.indexOf("*/", i + 3)
          val next = if (end < 0) -1 else src.indexWhere(!_.isWhitespace, end + 2)
          next >= 0 && src.startsWith("/**", next)
        }.toSeq
    val offenders = sources(root).flatMap { case (p, src) =>
      stacked(src).map(at(p, src, _))
    }
    assert(offenders.isEmpty,
      s"doc comments that document no definition: ${offenders.mkString(", ")}")
  }
}
