package graft

/**
 * Export CLI — mirrors the reference's `export_to_csv.py` argparse surface
 * (reference: export_to_csv.py:7-37) over a warehouse written by
 * [[Pipeline.importBag]]:
 *
 *   -a,  --all         full 15-column export       -> <out>/adressen_all_data.csv
 *   -p4, --postcode4   4-char postcode group stats -> <out>/adressen_p4_stats.csv
 *   -p5, --postcode5   5-char postcode group stats -> <out>/adressen_p5_stats.csv
 *   -p6, --postcode6   6-char postcode group stats -> <out>/adressen_p6_stats.csv
 *   (no flag)          postcode export             -> <out>/adressen_postcodes.csv
 *
 * Engine options (the SQLite original keeps these in config.py):
 *   --warehouse DIR       warehouse root (default: output/warehouse)
 *   --out DIR             output directory (default: output)
 *   --long-street-names   full street names instead of verkorte_naam
 *   --single-file         write a plain CSV FILE at the target path (the
 *                         reference's artifact shape; one write task —
 *                         local use only). Default: a directory of parts.
 *   --master URL          Spark master (default: local[*])
 */
object Exports {

  private val usage: String =
    """usage: runMain graft.Exports [-a|-p4|-p5|-p6] [--warehouse DIR] [--out DIR]
      |                             [--long-street-names] [--single-file] [--master URL]""".stripMargin

  def main(args: Array[String]): Unit = {
    var variant = "postcode"
    var warehouse = "output/warehouse"
    var out = "output"
    var shortNames = true
    var singleFile = false
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
        case "-a" | "--all"        => variant = "all"
        case "-p4" | "--postcode4" => variant = "pc4"
        case "-p5" | "--postcode5" => variant = "pc5"
        case "-p6" | "--postcode6" => variant = "pc6"
        case "--warehouse"         => warehouse = value("--warehouse")
        case "--out"               => out = value("--out")
        case "--long-street-names" => shortNames = false
        case "--single-file"       => singleFile = true
        case "--master"            => master = value("--master")
        case "-h" | "--help"       => println(usage); return
        case other =>
          System.err.println(s"unknown argument: $other\n$usage")
          sys.exit(2)
      }
      i += 1
    }
    val fileName = variant match {
      case "all"      => "adressen_all_data.csv"
      case "postcode" => "adressen_postcodes.csv"
      case v          => s"adressen_${v.replace("pc", "p")}_stats.csv"
    }
    Sessions.run(master, 32) { spark =>
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$warehouse/adressen"))
          && !warehouse.contains("://")) {
        System.err.println(
          s"""no warehouse at $warehouse (expected <warehouse>/adressen + <warehouse>/raw/*).
             |Run the import first: Pipeline.importBag(spark, "bag.zip", "gemeenten.csv",
             |  Pipeline.Layout(stagingDir, "$warehouse"), Config(asOfDate = ...))""".stripMargin)
        sys.exit(3)
      }
      val (t, adressen) = Pipeline.openWarehouse(spark, warehouse)
      Pipeline.export(adressen, t, variant, s"$out/$fileName",
        useShortStreetNames = shortNames, singleFile = singleFile)
      println(s"[export] $variant -> $out/$fileName")
    }
  }
}
