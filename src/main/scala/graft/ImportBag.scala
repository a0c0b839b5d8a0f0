package graft

/**
 * Import CLI — mirrors the reference's `import_bag.py` entry point
 * (reference: import_bag.py:13-90): stage the BAG zip-of-zips, parse the
 * XML object types, build the curated `adressen` layer into a parquet
 * warehouse, and (like the reference) run the validation suite afterwards.
 *
 *   --bag FILE            BAG extract zip          (default: input/bag.zip)
 *   --gemeenten FILE      municipalities CSV       (default: input/gemeenten.csv)
 *   --warehouse DIR       output warehouse         (default: output/warehouse)
 *   --staging DIR         XML staging area         (default: output/staging)
 *   --as-of YYYY-MM-DD    validity date            (default: today, logged —
 *                         the reference pins "today" implicitly; pass the
 *                         flag for reproducible runs)
 *   --no-geometries       skip GML->GeoJSON        (config.py:39-43)
 *   --long-street-names   full street names        (config.py:34-37)
 *   --drop-raw-tables     after the (validated) import, drop the five raw
 *                         tables the adressen layer subsumes + the staging
 *                         dir (config.py:29-32, utils_sqlite_shrink.py —
 *                         the reference defaults this ON; here it is
 *                         opt-in because the raw parquet layer is the
 *                         engine's queryable surface)
 *   --skip-validation     do not run the post-import validation suite
 *   --master URL          Spark master             (default: local[*])
 *
 * After a successful import, the [[Exports]] CLI serves the CSV surface
 * from the same warehouse.
 */
object ImportBag {

  private val usage: String =
    """usage: runMain graft.ImportBag [--bag FILE] [--gemeenten FILE]
      |  [--warehouse DIR] [--staging DIR] [--as-of YYYY-MM-DD]
      |  [--no-geometries] [--long-street-names] [--drop-raw-tables]
      |  [--skip-validation] [--master URL]""".stripMargin

  def main(args: Array[String]): Unit = {
    var bag = "input/bag.zip"
    var gemeenten = "input/gemeenten.csv"
    var warehouse = "output/warehouse"
    var staging = "output/staging"
    var asOf: Option[String] = None
    var geometries = true
    var shortNames = true
    var validate = true
    var dropRaw = false
    var master = "local[*]"
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) {
        System.err.println(s"$flag requires a value\n$usage")
        sys.exit(2)
      }
      i += 1
      args(i)
    }
    while (i < args.length) {
      args(i) match {
        case "--bag"               => bag = value("--bag")
        case "--gemeenten"         => gemeenten = value("--gemeenten")
        case "--warehouse"         => warehouse = value("--warehouse")
        case "--staging"           => staging = value("--staging")
        case "--as-of"             => asOf = Some(value("--as-of"))
        case "--no-geometries"     => geometries = false
        case "--long-street-names" => shortNames = false
        case "--skip-validation"   => validate = false
        case "--drop-raw-tables"   => dropRaw = true
        case "--master"            => master = value("--master")
        case "-h" | "--help"       => println(usage); return
        case other =>
          System.err.println(s"unknown argument: $other\n$usage")
          sys.exit(2)
      }
      i += 1
    }
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(bag))) {
      System.err.println(s"BAG file not found: $bag (see readme; --bag FILE)")
      sys.exit(3)
    }
    val asOfDate = asOf.getOrElse {
      val today = Config.today()
      Log.warn(s"[import] --as-of not given: using wall-clock today $today " +
        "(pass --as-of for reproducible runs)")
      today
    }
    val cfg = Config(asOfDate = asOfDate, parseGeometries = geometries,
      useShortStreetNames = shortNames, deleteNoLongerNeededBagTables = dropRaw)

    Sessions.run(master, 32) { spark =>
      // the console view of the run: records/s while the import's tasks
      // finish; detached at the end so an embedding session is not left
      // holding the listener
      val progress = Progress.attach(spark, "bag-import")
      try {
        val t0 = System.nanoTime()
        val adressen = Pipeline.importBag(spark, bag, gemeenten,
          Pipeline.Layout(staging, warehouse), cfg)
        val n = adressen.count()
        Log.info(f"[import] adressen: $n%d rows -> $warehouse/adressen " +
          f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
        Log.info(progress.report())
        if (validate) {
          val t = Pipeline.openWarehouse(spark, warehouse)._1
          val checks = Validate.run(adressen, t)
          checks.foreach(c =>
            if (c.isError) Log.error(s"[validate] FAIL ${c.name}")
            else Log.info(s"[validate] ok   ${c.name}"))
          val errors = Validate.errorCount(checks)
          if (errors > 0) {
            System.err.println(s"[validate] $errors check(s) failed")
            sys.exit(1)
          }
        }
        // reference order (import_bag.py:60-78): build -> validate -> THEN
        // delete — a failed validation keeps the raw layer for forensics
        if (cfg.deleteNoLongerNeededBagTables) {
          val reclaimed = Pipeline.deleteNoLongerNeededBagTables(spark,
            Pipeline.Layout(staging, warehouse))
          Log.info(f"[import] dropped raw tables + staging: " +
            f"${reclaimed / 1048576.0}%.1f MB reclaimed")
        }
      } finally Progress.detach()
    }
  }
}
