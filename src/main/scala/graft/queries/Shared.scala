package graft
package queries

import graft.engine.Tables
import org.apache.spark.sql.SparkSession

/** Table readers and helpers that more than one query family uses. */
object Shared {

  private[queries] def li(s: SparkSession, d: String)   = Tables.lineitem(s, d)
  private[queries] def ord(s: SparkSession, d: String)  = Tables.orders(s, d)
  private[queries] def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private[queries] def prt(s: SparkSession, d: String)  = Tables.part(s, d)
  private[queries] def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private[queries] def emb(s: SparkSession, d: String)  = Tables.embeddings(s, d)
  private[queries] def ev(s: SparkSession, d: String)   = Tables.events(s, d)

  /** `serve(shards)` for a folded model, its base published over the
    * first two shards whenever `lineage` holds nothing the full list
    * can fold onto (first contact, or a publication by other bytecode),
    * so the result never depends on what the artifact root held before:
    * the PQ quantizer, for one, is trained on the base shards. Folded
    * serves publish before they return, so the seed is never read. */
  private[queries] def seededFold[T](lineage: graft.engine.Artifacts.Lineage,
      shards: Seq[String])(serve: Seq[String] => T): T = {
    if (!lineage.foldsOnto(shards)) serve(shards.take(2))
    serve(shards)
  }

  private[queries] val sumQty  = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
  private[queries] val sumPrice = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
  // Greedy longest-match subword counts per doc (recursive CTE): tokens
  // per DISTINCT word (tokenization is context-free within a word), then
  // joined back to word occurrences. The vocab literal is interpolated
  // from the SAME Scala constant the engine compiles into its trie, so
  // engine and oracle cannot desynchronize. Prefix with WITH RECURSIVE.
  private[queries] def bpeCte(src: String = "documents"): String = {
    val vlist = graft.functions.BpeTokenizer.vocabSqlList()
    s"""words AS (SELECT doc_id, u.w FROM $src,
       |  UNNEST(string_split(lower(text), ' ')) AS u(w) WHERE len(u.w) > 0),
       |uw AS (SELECT DISTINCT w FROM words),
       |step AS (
       |  SELECT w, CAST(1 AS INTEGER) AS pos, CAST(0 AS BIGINT) AS n FROM uw
       |  UNION ALL
       |  SELECT w, CAST(pos + GREATEST(m, 1) AS INTEGER), n + 1 FROM (
       |    SELECT w, pos, n,
       |      list_max(list_transform($vlist,
       |        v -> CASE WHEN substr(w, pos, len(v)) = v THEN len(v) ELSE 0 END)) AS m
       |    FROM step WHERE pos <= len(w)) s),
       |wt AS (SELECT w, max(n) AS toks FROM step GROUP BY w),
       |bpe AS (SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(wt.toks) AS BIGINT) AS n_tokens_bpe
       |  FROM words JOIN wt USING (w) GROUP BY 1)""".stripMargin
  }
}
