package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's consistency and its one selection function; no
  * Spark session — nothing here runs a query. */
class RegistrySpec extends AnyFunSuite {

  private val names = Queries.all.map(_._1)

  test("registry: query names are unique") {
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate names: ${dups.toSeq.sorted}")
  }

  test("registry: every Oracle.sql key is a registered query") {
    val stray = Oracle.sql.keySet -- names
    assert(stray.isEmpty, s"oracle keys with no query: ${stray.toSeq.sorted}")
  }

  test("registry: only a08_approx_distinct and a16_approx_percentiles have no oracle SQL") {
    assert(names.filterNot(Oracle.sql.contains).toSet ===
      Set("a08_approx_distinct", "a16_approx_percentiles"))
  }

  test("registry: every VerifyExtras check reads a registered query") {
    val stray = graft.VerifyExtras.queries.toSet -- names
    assert(stray.isEmpty, s"extras checks with no query: ${stray.toSeq.sorted}")
  }

  test("registry: a query with neither oracle SQL nor a VerifyExtras check fails the load check") {
    val plan: Queries.Q = (s, _) => s.range(1).toDF()
    val ok = Seq(QuerySpec("z00_with_sql", plan, Some("SELECT 1")),
      QuerySpec("a08_approx_distinct", plan, None))
    assert(Queries.checked(ok) === ok)
    val e = intercept[IllegalArgumentException](
      Queries.checked(ok :+ QuerySpec("z01_unchecked", plan, None)))
    assert(e.getMessage.contains("z01_unchecked"), e.getMessage)
    assert(!e.getMessage.contains("a08_approx_distinct"), e.getMessage)
  }

  test("registry: duplicate names and null oracle SQL fail the load check") {
    val plan: Queries.Q = (s, _) => s.range(1).toDF()
    val dup = intercept[IllegalArgumentException](Queries.checked(Seq(
      QuerySpec("z00_twice", plan, Some("SELECT 1")), QuerySpec("z00_twice", plan, Some("SELECT 2")))))
    assert(dup.getMessage.contains("z00_twice"), dup.getMessage)
    val nul = intercept[IllegalArgumentException](
      Queries.checked(Seq(QuerySpec("z02_helper_below", plan, Some(null)))))
    assert(nul.getMessage.contains("z02_helper_below"), nul.getMessage)
  }

  test("select: known names come back in registry order; no names selects all") {
    val picked = Seq(names(40), names(3), names(17))
    assert(Queries.select(picked).map(_._1) === Seq(names(3), names(17), names(40)))
    assert(Queries.select(Nil).map(_._1) === names)
  }

  test("select: an unknown name throws, naming it") {
    val e = intercept[IllegalArgumentException](
      Queries.select(Seq(names.head, "x99_typo", "a00_nope")))
    assert(e.getMessage.contains("a00_nope, x99_typo"), e.getMessage)
  }
}
