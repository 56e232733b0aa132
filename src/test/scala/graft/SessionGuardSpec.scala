package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session comes from [[GraftSession]], so mains and specs run
  * under one configuration. A second session builder in `src` would let
  * a spec or a main drift from the shipped settings again. Likewise
  * every table load in `src/main` goes through [[Tables.parquet]].
  */
class SessionGuardSpec extends AnyFunSuite {

  test("only GraftSession builds sessions, bar JsonFusionSpec's extension case") {
    val needle = java.util.regex.Pattern.quote("SparkSession" + ".builder(").r
    // JsonFusionSpec's withExtensions case exercises the builder
    // injection path itself, so it cannot go through GraftSession
    val allowed = Map("GraftSession.scala" -> 1, "JsonFusionSpec.scala" -> 1)
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val counts = roots.flatMap(r => Files.walk(r).iterator().asScala.toSeq)
      .filter(p => p.toString.endsWith(".scala"))
      .map((p: Path) => p -> needle.findAllMatchIn(Files.readString(p)).size)
      .filter(_._2 > 0)
    val unexpected = counts.filterNot { case (p, n) =>
      allowed.get(p.getFileName.toString).contains(n)
    }
    assert(unexpected.isEmpty, s"session builders outside GraftSession: $unexpected")
    assert(counts.map(_._1.getFileName.toString).toSet == allowed.keySet)
  }

  test("registry code loads parquet through Tables.parquet's schema memo") {
    // a bare read infers the schema with a Spark job on every load;
    // Snapshots reads file sets that change every commit, and
    // IdentityMerge reads its own epoch deltas
    val needle = """\.read\s*\.\s*(parquet|schema)\s*\(""".r
    val allowed = Set("Tables.scala", "Snapshots.scala", "IdentityMerge.scala")
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val readers = Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => needle.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSet
    assert(readers.contains("Tables.scala"), s"the scanner found no reads: $readers")
    assert((readers -- allowed).isEmpty, s"bare parquet reads outside Tables: ${readers -- allowed}")
  }

  test("no listener registration or sleep poll in src/main") {
    // observed metrics come from Spark's Observation / streaming
    // progress, which deliver synchronously; a session-wide listener
    // plus a sleep poll is a race with a timeout
    val needle = """QueryExecutionListener|Thread\.sleep""".r
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val hits = Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => needle.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    assert(hits.isEmpty, s"listener or sleep poll in src/main: $hits")
  }
}
