package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * json_key_long mirror: the kernel must equal
 * `get_json_object(props, '$.k').cast("long")` — the REAL composed
 * chain, evaluated by Spark in the same run as ground truth — on every
 * adversarial input here. Divergence = kernel bug, by definition.
 */
class JsonKeyLongSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("json-key-long-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val corpus: Seq[String] = Seq(
    // canonical shapes (the events.props population)
    """{"k": 76}""", """{"k":43}""", """{"k": -5}""", """{"k": 0}""",
    """{ "k" : 42 }""", "{\n\t\"k\"\n:\n7\n}",
    // bounds and overflow
    """{"k": 9223372036854775807}""", """{"k": -9223372036854775808}""",
    """{"k": 9223372036854775808}""", """{"k": -9223372036854775809}""",
    """{"k": 123456789012345678901234567890}""",
    // non-integer numbers in every JSON form
    """{"k": 1.5}""", """{"k": -1.5}""", """{"k": 1.0}""", """{"k": 0.0}""",
    """{"k": 1e3}""", """{"k": 1E3}""", """{"k": 1e-3}""", """{"k": 1.25e2}""",
    """{"k": -0}""", """{"k": -0.0}""", """{"k": 2.999999}""",
    // malformed numbers (strict JSON)
    """{"k": 01}""", """{"k": +1}""", """{"k": 1.}""", """{"k": .5}""",
    """{"k": 1e}""", """{"k": -}""",
    // strings, including numeric strings and escapes
    """{"k": "12"}""", """{"k": " 12 "}""", """{"k": "1.5"}""",
    """{"k": "abc"}""", """{"k": ""}""", """{"k": "-7"}""",
    """{"k": "\u0031\u0032"}""", """{"k": "1\n2"}""", """{"k": "12\t"}""",
    // bools / null / structs as the value
    """{"k": true}""", """{"k": false}""", """{"k": null}""",
    """{"k": [1,2]}""", """{"k": []}""", """{"k": {"a": 1}}""", """{"k": {}}""",
    // key absent / similar keys / case
    """{"j": 1}""", """{"K": 1}""", """{"kk": 1}""", """{"kk": 1, "k": 2}""",
    """{"": 5}""", """{}""",
    // duplicates and ordering
    """{"k": 1, "k": 2}""", """{"a": 1, "k": 3, "k": 9}""",
    // the key nested (must NOT match '$.k' at top level)
    """{"a": {"k": 9}}""", """{"a": {"k": 9}, "k": 3}""",
    """{"a": [{"k": 8}], "k": 4}""", """{"a": [1, {"k": 8}]}""",
    // the key text hiding inside other strings
    """{"a": "\"k\": 99", "k": 7}""", """{"a": "{\"k\": 99}"}""",
    // escaped forms of the key itself
    """{"\u006b": 8}""", """{"\u006B": 9}""", """{"k\t": 1}""",
    """{"\\k": 1}""",
    // other values with unicode / escapes before the key
    """{"a": "π", "k": 5}""", """{"a": "\ud83d\ude00", "k": 6}""",
    """{"a": "x\\", "k": 11}""",
    // whitespace / minimal / trailing content
    """  {"k": 13}  """, """{"k":14} trailing garbage""",
    """{"k": 15,}""", """{,"k": 16}""",
    // malformed JSON of many kinds
    """""", """null""", """12""", """"k"""", """[1, 2]""", """[{"k": 1}]""",
    """{k: 1}""", """{'k': 1}""", """{"k" 1}""", """{"k": }""",
    """{"k": 1""", """{"k": 1]""", """{"a" : 1 "k": 2}""",
    """{"a": tru, "k": 1}""", """{"a": nul, "k": 1}""",
    """{"a": 01, "k": 1}""", """{"a": "unterminated, "k": 1}""",
    "{\"a\": \"raw\u0001ctl\", \"k\": 1}",
    // big-but-valid neighborhoods
    """{"a": 1, "b": [1, [2, {"c": "d"}]], "k": 21, "z": 9}""",
    """{"a": {"b": {"c": [true, false, null]}}, "k": 22}""",
    // siblings AFTER the match: valid and malformed (Jackson parses to
    // the end of the root object before the extraction returns)
    """{"k": 31, "z": 2}""", """{"k": 32, "b": 01}""",
    """{"k": 33, "b": "unterminated""", """{"k": 34, "b": {"x": tru}}""",
    """{"k": 35, "k": 01}""",
    // single-quote forms (SharedFactory ALLOW_SINGLE_QUOTES)
    """{'k': 41}""", """{'k': '42'}""", """{"k": '43'}""",
    """{'a': 'x', "k": 44}""", """{'k\'': 1}""", """{'a': 'it\'s', 'k': 45}""",
    // non-standard number tokens (NaN/Infinity only if Jackson allows)
    """{"k": NaN}""", """{"k": Infinity}""", """{"k": -Infinity}""",
    // raw control chars (SharedFactory ALLOW_UNESCAPED_CONTROL_CHARS)
    "{\"k\": 51, \"a\": \"xy\"}", "{\"a\": \"\", \"k\": 52}")

  /** Evaluate one expression on one input; Left(exn class) on throw —
    * Spark 4 runs ANSI by default, so the ground-truth chain THROWS on
    * non-castable matched values and the kernel must throw too. */
  private def outcome(props: String, mk: org.apache.spark.sql.Column)
      : Either[String, Option[Long]] = {
    import spark.implicits._
    try {
      val r = Seq(props).toDF("props").select(mk.as("v")).collect()(0)
      Right(if (r.isNullAt(0)) None else Some(r.getLong(0)))
    } catch {
      case e: Throwable =>
        var c = e.getCause
        var root = e
        while (c != null) { root = c; c = c.getCause }
        Left(root.getClass.getSimpleName)
    }
  }

  test("kernel == get_json_object('$.k').cast(long) over the adversarial corpus") {
    val bad = corpus.flatMap { s =>
      val truth = outcome(s, get_json_object(col("props"), "$.k").cast("long"))
      val kernel = outcome(s, JsonExpressions.jsonKeyLong(col("props"), "k"))
      // equal values, or both throw with the same root-cause class
      if (truth == kernel) None else Some(s"  props=$s truth=$truth kernel=$kernel")
    }
    assert(bad.isEmpty, "divergences:\n" + bad.mkString("\n"))
  }

  test("kernel == chain on the real testdata props at sf0.01") {
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    val both = ev.select(col("props"),
      get_json_object(col("props"), "$.k").cast("long").as("truth"),
      JsonExpressions.jsonKeyLong(col("props"), "k").as("kernel"))
    assert(both.filter(!(col("truth") <=> col("kernel"))).count() == 0)
    // and the values are actually non-null on this population
    assert(both.filter(col("kernel").isNotNull).count() > 0)
  }

  test("null input propagates") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, """{"k": 3}""")).toDF("id", "props")
    val out = df.select(JsonExpressions.jsonKeyLong(col("props"), "k").as("v"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(out.toSeq == Seq(null, 3L))
  }
}
