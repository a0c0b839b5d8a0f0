package graft.ingest

import java.io.{BufferedInputStream, BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

/**
 * S1: zip-of-zips staging (reference: utils.py:40-64, bag_parser.py:401-407).
 *
 * The BAG extract is one outer zip holding per-object-type inner zips
 * ("9999WPL...", "9999OPR...", etc.), each holding thousands of XML files.
 * We unpack to `<staging>/<code>/NNN.xml` driver-side so Spark's XML source
 * can glob one directory per object type — one XML file ~ one input split.
 * (Streaming zip members through Spark's binaryFile source is possible but
 * deliberately out of scope for v1, SURVEY.md §7.3.)
 *
 * Extraction parallelizes over inner zips with a small thread pool — the
 * analogue of the reference's process pool, and like there it is I/O-bound
 * staging, not engine work.
 */
object BagZip {

  /** Inner-zip code -> subdirectory; returns per-code XML dirs. */
  def stage(outerZip: String, stagingDir: String,
      codes: Seq[String] = BagXml.allSpecs.map(_.zipCode),
      parallelism: Int = Runtime.getRuntime.availableProcessors()): Map[String, String] = {
    val staging = Paths.get(stagingDir)
    Files.createDirectories(staging)

    // 1. unpack the outer zip (sequential: one big file, I/O bound)
    val outerDir = staging.resolve("outer")
    clearDir(outerDir)
    extractZip(Paths.get(outerZip), outerDir, _ => true)

    // 2. unpack each inner zip whose name carries a known code, in parallel
    val inner = Files.list(outerDir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".zip")).toSeq
    val matched = for {
      zipPath <- inner
      code <- codes.find(c => zipPath.getFileName.toString.contains(c))
    } yield (zipPath, code)

    // a missing object-type zip must fail HERE, not as an obscure read
    // error later
    val missing = codes.toSet -- matched.map(_._2).toSet
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"no inner zip found in $outerZip for object-type code(s): ${missing.toSeq.sorted.mkString(", ")}")

    // staging dirs are cleared first: XML names embed the extract date, so
    // re-staging a NEWER extract into a reused dir would otherwise leave
    // last run's files in place and silently co-ingest both extracts
    matched.map(_._2).distinct.foreach(c => clearDir(staging.resolve(c)))
    val pool = Executors.newFixedThreadPool(math.max(1, parallelism))
    try {
      matched.map { case (zipPath, code) =>
        val dest = staging.resolve(code)
        pool.submit(new Runnable {
          def run(): Unit = extractZip(zipPath, dest, _.toLowerCase.endsWith(".xml"))
        })
      }.foreach(_.get())
    } finally pool.shutdown()

    codes.map(c => c -> staging.resolve(c).toString).toMap
  }

  /** Delete-and-recreate a staging subdirectory. */
  private def clearDir(dir: Path): Unit = {
    if (Files.exists(dir)) {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    Files.createDirectories(dir)
  }

  private def extractZip(zip: Path, destDir: Path, keep: String => Boolean): Unit = {
    val zf = new ZipFile(zip.toFile)
    // entry paths are flattened to their basename (zip-slip defense), so a
    // basename collision would silently overwrite a member — fail loudly
    val seen = scala.collection.mutable.HashSet.empty[String]
    try {
      zf.entries().asScala.filter(e => !e.isDirectory && keep(e.getName)).foreach { e =>
        val name = Paths.get(e.getName).getFileName.toString // flatten, no zip-slip
        if (!seen.add(name))
          throw new IllegalStateException(
            s"$zip: duplicate member basename '$name' (entry ${e.getName}) would overwrite an extracted file")
        val out = destDir.resolve(name)
        val in = new BufferedInputStream(zf.getInputStream(e))
        val os = new BufferedOutputStream(new FileOutputStream(out.toFile))
        try {
          val buf = new Array[Byte](1 << 16)
          var n = in.read(buf)
          while (n >= 0) { os.write(buf, 0, n); n = in.read(buf) }
        } finally { os.close(); in.close() }
      }
    } finally zf.close()
  }
}
