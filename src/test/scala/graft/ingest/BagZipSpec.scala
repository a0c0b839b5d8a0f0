package graft.ingest

import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import graft.BagFixtures
import org.scalatest.funsuite.AnyFunSuite

/** S1 staging: re-staging into a reused directory holds only the new
  * extract's files. */
class BagZipSpec extends AnyFunSuite {

  private def zip(zipPath: Path, files: Seq[Path]): Unit = {
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    try files.foreach { f =>
      zos.putNextEntry(new ZipEntry(f.getFileName.toString))
      zos.write(Files.readAllBytes(f))
      zos.closeEntry()
    } finally zos.close()
  }

  /** Pack each fixture code dir into an inner zip named like the BAG
    * extract's members (e.g. 9999NUM08102025.zip), and those into one
    * outer zip. */
  private def packExtract(xmlDirs: Map[String, String], root: Path): Path = {
    val zipDir = Files.createDirectories(root.resolve("zips"))
    val inner = xmlDirs.toSeq.map { case (code, dir) =>
      val zipPath = zipDir.resolve(s"${code}08102025.zip")
      zip(zipPath, Files.list(java.nio.file.Paths.get(dir)).iterator.asScala.toSeq)
      zipPath
    }
    val outer = root.resolve("bag.zip")
    zip(outer, inner)
    outer
  }

  test("re-staging clears previous extract's files (XML names embed the extract date)") {
    val root = Files.createTempDirectory("bagzip_restage")
    val (xmlDirs, _) = BagFixtures.write(root.resolve("plain"))
    val outer = packExtract(xmlDirs, root).toString
    val stagedDir = root.resolve("staged").toString

    val first = BagZip.stage(outer, stagedDir)
    // simulate a file left behind by a previous (older) extract
    val strayCode = first.keys.head
    val stray = java.nio.file.Paths.get(first(strayCode), "9999STALE01012020-000001.xml")
    Files.writeString(stray, "<stale/>")

    val second = BagZip.stage(outer, stagedDir)
    assert(!Files.exists(stray),
      "stale file from a previous extract survived re-staging — both extracts would co-ingest")
    second.values.foreach { d =>
      assert(Files.list(java.nio.file.Paths.get(d)).count() > 0)
    }
  }
}
