package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The executable specifications that the specs hold [[TextOps]]'s native
  * kernels to: the built-in chains each kernel replaces. */
object TextOpsRef {

  /** The tokens whose count [[TextOps.regexTokenCount]] returns. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(TextOps.TokenRegex), lit(0))

  /** The wrapped-separator replace-chain form of [[TextOps.bpeEncode]] — the
    * executable semantics spec the kernel is property-tested against
    * (identical output columns). */
  def bpeEncodeHof(docs: DataFrame, merges: Seq[String],
                   textCol: String = "text"): DataFrame = {
    val sep = "\u0001"
    require(merges.nonEmpty, "bpeEncode: empty merge table")
    merges.foreach { p =>
      require(p.length == 2 && p.forall(c => c > ' ' && c < 127),
        s"bpeEncode: merge pair must be 2 printable-ASCII non-space chars, got '$p'")
    }
    def tokensOf(w: Column): Column = {
      val inter = regexp_replace(w, lit("(.)"), lit(sep + "$1" + sep))
      val enc = merges.foldLeft(inter) { (acc, p) =>
        call_function("replace", acc,
          lit(s"$sep${p(0)}$sep$sep${p(1)}$sep"), lit(s"$sep$p$sep"))
      }
      // separators / 2 (each token carries exactly two)
      shiftright(
        (length(enc) - length(call_function("replace", enc, lit(sep), lit(""))))
          .cast("long"), 1)
    }
    val words = filter(split(col(textCol), " "), w => length(w) > lit(0))
    // the separator guard rides inside the summed expression so pruning
    // can never drop it (the v08 pattern)
    val guard = coalesce(assert_true(!contains(col(textCol), lit(sep)),
      lit("bpeEncode: text contains the \\u0001 token separator")).cast("long"), lit(0L))
    docs.select(col("doc_id"),
        (aggregate(words, lit(0L), (acc, w) => acc + length(w).cast("long")) + guard)
          .as("n_char_tokens"),
        aggregate(words, lit(0L), (acc, w) => acc + tokensOf(w)).as("n_bpe_tokens"))
      .withColumn("n_merged", col("n_char_tokens") - col("n_bpe_tokens"))
  }

  /** The executable SPECIFICATION of [[TextOps.piiRedact]]: three sequential
    * corpus-wide `regexp_replace` passes (email -> ip -> phone) + counts by
    * length-delta substring counting — the exact shape the DuckDB oracle
    * runs. Kept for the kernel == spec property tests; production callers
    * use the fused kernel. */
  def piiRedactSpec(df: DataFrame, textCol: String = "text"): DataFrame = {
    def tokens(c: Column, tok: String): Column =
      ((length(c) - length(replace(c, lit(tok), lit("")))) / tok.length).cast("long")
    df.withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), TextOps.Pii.EmailRe, "<EMAIL>"),
            TextOps.Pii.Ipv4Re, "<IP>"),
          TextOps.Pii.PhoneRe, "<PHONE>"))
      .withColumn("n_emails", tokens(col("redacted"), "<EMAIL>"))
      .withColumn("n_ips", tokens(col("redacted"), "<IP>"))
      .withColumn("n_phones", tokens(col("redacted"), "<PHONE>"))
  }
}
