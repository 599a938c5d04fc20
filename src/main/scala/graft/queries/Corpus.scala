package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The planted-dup document corpus the dd, tx, st and llm families
  * read, its DuckDB mirror and the oracles' tokenizer SQL. It reads no
  * registry (see [[graft.SparkEntry.registries]]). */
object Corpus {

  /** The planted-near-dup mutation every dedup fixture shares: drop the
    * document's last word. ONE definition (plus [[TruncLastWordSql]]) —
    * three Spark sites and their oracle literals previously carried
    * verbatim copies that could silently desynchronize (r8 review). */
  private[queries] def truncateLastWord(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(text, "[ \\t\\n\\x0B\\f\\r]+[^ \\t\\n\\x0B\\f\\r]+\\z", "")
  private val TruncLastWordSql: String =
    """regexp_replace(text, '[ \t\n\x0B\f\r]+[^ \t\n\x0B\f\r]+\z', '')"""

  /** Corpus with planted near-duplicates: every 50th document is
    * replayed with its last word dropped and id + 1,000,000 — gives
    * the dedup operators deterministic positives to find. Mirrored in
    * SQL as `corpus`. */
  private[queries] def corpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val mutated = docs.filter(col("doc_id") % 50 === 0)
      .select(
        (col("doc_id") + 1000000L).as("doc_id"),
        truncateLastWord(col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    docs.select("doc_id", "text", "lang", "source", "n_chars").unionAll(mutated)
  }

  private[queries] val corpusSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, regexp_replace(text, '[ \t\n\x0B\f\r]+[^ \t\n\x0B\f\r]+\z', ''),
      |         lang, source, n_chars
      |  FROM documents WHERE doc_id % 50 = 0),
      |""".stripMargin

  // fail-fast if any oracle copy of the mutation regex drifts from the
  // canonical definition (the SQL lives inside stripMargin literals
  // where splicing would obscure the oracle text)
  require(corpusSql.contains(TruncLastWordSql),
    "corpusSql lost the canonical truncate-last-word regex")

  /** [[graft.llm.TextOps.words]] in DuckDB: the oracles' word lists. */
  private[queries] val LowerWordsSql: String =
    raw"string_split_regex(lower(text), '[ \t\n\x0B\f\r]+')"
}
