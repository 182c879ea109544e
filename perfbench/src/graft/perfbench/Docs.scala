package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The document shape both text workloads share: WET records decoded to
  * (doc_id, source, lang, text) from the generator's
  * `http://crawl.example/<source>/<lang>/<doc_id>` URIs, and the quality
  * gate both apply. */
object Docs {
  def fromWet(recs: DataFrame): DataFrame =
    recs.filter(col("rec_type") === "conversion").select(
      regexp_extract(col("uri"), "/([0-9]+)$", 1).cast("long").as("doc_id"),
      regexp_extract(col("uri"), "example/([^/]+)/", 1).as("source"),
      regexp_extract(col("uri"), "/([a-z]+)/[0-9]+$", 1).as("lang"),
      col("text"))

  private val stop = Seq("the", "a", "of", "and", "in", "to", "is", "that")
    .map(w => s"'$w'").mkString(", ")

  /** Gopher's rules (TextOps.gopherOver's, in the same integer form) as a
    * per-doc filter, plus C4's whole-doc drop of code and lorem ipsum.
    * Needs the graft extensions installed (`count_in`). */
  def quality(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .withColumn("n", size(toks))
      .withColumn("nonspace", length(col("text")) - col("n") + 1)
      .withColumn("sym", expr("length(text) - length(replace(text, '#', ''))"))
      .withColumn("n_stop", expr(s"count_in(split(text, ' '), $stop)"))
      .filter(col("n") >= 50 && col("n") <= 100000 &&
        col("nonspace") >= col("n") * 3 && col("nonspace") <= col("n") * 10 &&
        col("sym") * 10 <= col("n") && (col("n") - col("sym")) * 5 >= col("n") * 4 &&
        col("n_stop") >= 2 && instr(col("text"), "lorem ipsum") === 0 &&
        instr(col("text"), "{") === 0)
      .drop("n", "nonspace", "sym", "n_stop")
  }
}
