package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C4-style line-level cleaning (Raffel et al. 2020, the "c4" heuristics):
  * web-extracted pages carry boilerplate lines — menus, cookie banners,
  * placeholder text — that survive page-level quality scores because the
  * page as a whole looks fine. The C4 recipe filters per LINE:
  *
  *   - fewer than `minWords` words → drop (reason "short");
  *   - no terminal punctuation (. ! ? or closing quote) → drop
  *     ("no_terminal") — prose sentences end, navigation links don't;
  *   - contains a policy phrase ("lorem ipsum", …) → drop ("policy").
  *
  * Reason precedence: policy > short > no_terminal (first match names the
  * row, mirroring the order a filter cascade would short-circuit in).
  *
  * Scale shape: split + posexplode + per-line predicates — entirely narrow,
  * no shuffle; every predicate is a codegen'd built-in. Page reassembly
  * (C4 keeps a page iff >= 3 lines survive) is a doc-keyed agg over the
  * verdict frame and stays doc-bounded.
  */
object LineFilter {

  val DefaultPolicyPhrases: Seq[String] = Seq("lorem ipsum")

  /** One row per line: (idCol, line_idx, line, reason, kept). */
  def lineVerdicts(df: DataFrame, textCol: String, idCol: String,
                   minWords: Int = 4,
                   policyPhrases: Seq[String] = DefaultPolicyPhrases): DataFrame = {
    require(minWords >= 1 && policyPhrases.nonEmpty)
    val wc = size(graft.functions.TextFunctions.wsTokens(col("line")))
    val policyHit = policyPhrases
      .map(p => contains(lower(col("line")), lit(p.toLowerCase(java.util.Locale.ROOT))))
      .reduce(_ || _)
    val terminal = substring(col("line"), -1, 1).isin(".", "!", "?", "\"")
    df.select(col(idCol), posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("pos", "line_idx")
      .withColumnRenamed("col", "line")
      .withColumn("reason",
        when(policyHit, "policy")
          .when(wc < minWords, "short")
          .when(!terminal, "no_terminal")
          .otherwise("ok"))
      .withColumn("kept", col("reason") === "ok")
  }

  /** C4's page rule over the verdict frame: a page survives iff at least
    * `minKeptLines` of its lines do; surviving pages are re-assembled from
    * their kept lines in order. Doc-keyed aggregation — the shuffle carries
    * one row per retained line, grouped on the page id. */
  def reassemblePages(verdicts: DataFrame, idCol: String,
                      minKeptLines: Int = 3): DataFrame =
    verdicts.where(col("kept"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(array_sort(collect_list(struct(col("line_idx"), col("line"))))
          .getField("line"), "\n").as("cleaned"))
      .where(col("n_kept") >= minKeptLines)
}
