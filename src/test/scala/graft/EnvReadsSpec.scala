package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on process-environment reads inside the library: operator,
  * source, function and streaming semantics should come from session
  * conf, not from whatever environment the JVM inherited. The
  * allowlist below names every env read those packages still make;
  * removing one shrinks it, and adding one fails here until it is
  * listed on purpose. The mains, tools and `GraftSession.build` are
  * out of scope.
  */
class EnvReadsSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala/graft")
  private val scanned = Seq("operators", "sources", "functions", "streaming")

  private val allowed: Set[(String, String)] = Set(
    "operators/TextOps.scala"     -> "SPARK_GRAFT_BPE_MERGES",
    "operators/TextOps.scala"     -> "SPARK_GRAFT_BPE_SAMPLE",
    "streaming/EventStream.scala" -> "SPARK_GRAFT_STREAM_SHUFFLE")

  private val EnvRead = "(?:sys\\.env|System\\.getenv)".r
  private val KeyedRead =
    ("(?:sys\\.env(?:\\.get|\\.getOrElse|\\.contains|\\.apply)?|" +
      "System\\.getenv)\\(\\s*\"([A-Za-z0-9_]+)\"").r

  test("library env reads are exactly the allowlist") {
    assert(root.isDirectory, s"run from the repo root: $root not found")
    val found = scanned.flatMap { pkg =>
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      walk(new java.io.File(root, pkg)).flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val rel = root.toPath.relativize(f.toPath).toString
        val keys = KeyedRead.findAllMatchIn(src).map(_.group(1)).toSeq
        // a read whose key is not a string literal cannot be audited
        val unkeyed = EnvRead.findAllMatchIn(src).size - keys.size
        keys.map(rel -> _) ++ Seq.fill(unkeyed)(rel -> "<non-literal key>")
      }
    }.toSet
    assert(found == allowed,
      s"env reads changed — new: ${found -- allowed}, gone: ${allowed -- found} " +
        "(shrink the allowlist when a read moves to session conf)")
  }
}
