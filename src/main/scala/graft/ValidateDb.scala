package graft

/**
 * Standalone validation CLI — the reference's `test_sqlite_db.py:12-14`
 * entry point: run the [[Validate]] integrity suite against an EXISTING
 * warehouse without re-importing (ImportBag runs the same suite inline
 * unless `--skip-validation`; this is for the re-validate-later workflow).
 *
 *   --warehouse DIR       warehouse root (default: output/warehouse)
 *   --master URL          Spark master (default: local[*])
 *   --no-golden-checks    skip the point-value goldens (UTF-8 canary,
 *                         1181BN woonplaats-override) — for warehouses
 *                         built from partial extracts that lack those rows
 *   --min-* N             override a cardinality threshold (defaults are
 *                         full-BAG scale, ~9M addresses; fixtures need
 *                         lower ones)
 *   --provincies N        exact expected provincie count (default 12)
 *
 * Exit codes: 0 all checks pass, 1 failures (count on stderr), 2 bad args,
 * 3 no warehouse at the given path.
 */
object ValidateDb {

  private val usage: String =
    """usage: runMain graft.ValidateDb [--warehouse DIR] [--master URL]
      |         [--no-golden-checks] [--provincies N]
      |         [--min-adressen N] [--min-adressen-met-pand N]
      |         [--min-ligplaatsen N] [--min-standplaatsen N]
      |         [--min-openbare-ruimten N] [--min-woonplaatsen N]
      |         [--min-gemeenten N]""".stripMargin

  def main(args: Array[String]): Unit = {
    var warehouse = "output/warehouse"
    var master = "local[*]"
    var golden = true
    var th = Validate.Thresholds()
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) {
        System.err.println(s"$flag requires a value\n$usage")
        sys.exit(2)
      }
      i += 1
      args(i)
    }
    def num(flag: String): Long = {
      val v = value(flag)
      try v.toLong
      catch { case _: NumberFormatException =>
        System.err.println(s"$flag expects a number, got: $v\n$usage")
        sys.exit(2)
      }
    }
    while (i < args.length) {
      args(i) match {
        case "--warehouse"            => warehouse = value("--warehouse")
        case "--master"               => master = value("--master")
        case "--no-golden-checks"     => golden = false
        case "--min-adressen"          => th = th.copy(minAdressen = num("--min-adressen"))
        case "--min-adressen-met-pand" => th = th.copy(minAdressenMetPand = num("--min-adressen-met-pand"))
        case "--min-ligplaatsen"       => th = th.copy(minLigplaatsen = num("--min-ligplaatsen"))
        case "--min-standplaatsen"     => th = th.copy(minStandplaatsen = num("--min-standplaatsen"))
        case "--min-openbare-ruimten"  => th = th.copy(minOpenbareRuimten = num("--min-openbare-ruimten"))
        case "--min-woonplaatsen"      => th = th.copy(minWoonplaatsen = num("--min-woonplaatsen"))
        case "--min-gemeenten"         => th = th.copy(minGemeenten = num("--min-gemeenten"))
        case "--provincies"            => th = th.copy(exactProvincies = num("--provincies"))
        case "-h" | "--help"          => println(usage); return
        case other =>
          System.err.println(s"unknown argument: $other\n$usage")
          sys.exit(2)
      }
      i += 1
    }
    Sessions.run(master, 32) { spark =>
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$warehouse/adressen"))
          && !warehouse.contains("://")) {
        System.err.println(
          s"no warehouse at $warehouse (expected <warehouse>/adressen + <warehouse>/raw/*); " +
            "run graft.ImportBag first")
        sys.exit(3)
      }
      val (t, adressen) = Pipeline.openWarehouse(spark, warehouse)
      val checks = Validate.run(adressen, t, th, goldenChecks = golden)
      checks.foreach(c => println(s"[validate] ${if (c.isError) "FAIL" else "ok  "} ${c.name}"))
      val errors = Validate.errorCount(checks)
      if (errors > 0) {
        System.err.println(s"[validate] $errors check(s) failed")
        sys.exit(1)
      }
      println("[validate] all checks passed")
    }
  }
}
