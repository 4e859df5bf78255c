package graft.sinks

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Segments]] as the single place persisted index families
  * resolve snapshots, commit manifests and validate segment ids: a new
  * family that reaches past it (and so forks the protocol rules again)
  * fails here. */
class SegmentsChokePointSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala/graft")

  private def sources(under: Path): Seq[(Path, String)] = {
    val walk = Files.walk(under)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toList
    finally walk.close()
  }

  test("IndexManifest resolve/commit calls appear only under sinks/") {
    val calls = Seq("IndexManifest.latest", "IndexManifest.at(",
      "IndexManifest.commitMerge")
    val offenders = for {
      (p, text) <- sources(main)
      if !p.startsWith(main.resolve("sinks"))
      c <- calls if text.contains(c)
    } yield s"$p: $c"
    assert(offenders.isEmpty,
      s"resolve and commit through graft.sinks.Segments: $offenders")
  }

  test("segment-id rules are written only in Segments") {
    val offenders = for {
      dir <- Seq("ext", "streaming")
      (p, text) <- sources(main.resolve(dir))
      if text.contains("filesystem-safe")
    } yield p.toString
    assert(offenders.isEmpty,
      s"validate ids with Segments.checkId: $offenders")
  }

  test("stream writers share one landed-file driver; ext/ names the " +
      "tombstone table only through Segments.Deletes") {
    val stream = new String(Files.readAllBytes(
      main.resolve("streaming/StreamIndex.scala")), "UTF-8")
    assert("\"maxFilesPerTrigger\"".r.findAllMatchIn(stream).length == 1,
      "StreamIndex writers must run on its one landed-file driver")
    val offenders = sources(main.resolve("ext")).collect {
      case (p, text) if text.contains("\"deletes\"") => p.toString
    }
    assert(offenders.isEmpty,
      s"name the tombstone table with Segments.Deletes: $offenders")
  }

  test("ext/ and streaming/ read parquet only through Segments.read") {
    // a bare `spark.read.parquet` infers its schema with a Spark job;
    // Segments.read takes it from one footer on the driver
    val offenders = for {
      dir <- Seq("ext", "streaming")
      (p, text) <- sources(main.resolve(dir))
      if text.contains("read.parquet(")
    } yield p.toString
    assert(offenders.isEmpty,
      s"read index tables with Segments.read or Segments.scan: $offenders")
  }
}
