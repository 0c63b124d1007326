package graft.dsl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** §3.1 indexed-search provider seam — the dispatch architecture of
  * `CatalogSearchService.SearchAsync` (CatalogSearchService.cs:43-141):
  * an index manager resolves a provider for the scope ("Catalog"); when
  * one is registered, its index store EXISTS, and the caller didn't force
  * `direct`, the provider's engine serves the search; otherwise the
  * relational compiler runs (`SearchDirectAsync` → the LINQ service =
  * `Search.run` here). The provider is where fuzzy/spellcheck-capable
  * engines (the reference's Lucene/MegaSearch plugin) plug in — the
  * relational path ignores `Query.fuzzy` exactly like the LINQ service.
  */
trait SearchProvider {
  def name: String
  /** `provider.GetIndexStore(scope).Exists`: a provider whose index was
    * never built is skipped and the direct path serves the query. */
  def indexExists: Boolean
  def search(df: DataFrame, q: Search.Query): Search.Result
}

/** The dispatcher + registry (`_indexManager.GetIndexProvider(Scope)`). */
object SearchService {
  val Scope = "Catalog" // CatalogSearchService.Scope

  private val providers = TrieMap.empty[String, SearchProvider]

  def register(scope: String, p: SearchProvider): Unit = providers.put(scope, p)
  def unregister(scope: String): Unit = providers.remove(scope)

  /** `SearchAsync(query, direct)`: provider → fallback chain. */
  def search(df: DataFrame, q: Search.Query, scope: String = Scope,
      direct: Boolean = false): Search.Result =
    providers.get(scope) match {
      case Some(p) if !direct && p.indexExists => p.search(df, q)
      case _ => Search.run(df, q) // SearchDirectAsync
    }
}

/** A minimal REAL provider for the seam: a pre-built inverted token index
  * (the Spark analog of the reference's Lucene index job). `build` is the
  * indexing pass — tokenize the term fields into a (token, id) posting
  * table, typically written bucketed by token; `search` resolves the term
  * to candidate ids through the index (one semi-join against the posting
  * list instead of a full-corpus LIKE scan — the reason indexed search
  * exists at 100 TB) and hands the PRUNED frame to the shared compiler
  * for filters, sorting, paging and facets, so both paths share one
  * result contract.
  *
  * Semantics are TOKEN matches (an index looks up terms), vs the direct
  * path's substring contains — the same honest difference the reference
  * has between its Lucene provider and the LINQ fallback.
  *
  * This provider CONSUMES `Query.fuzzy` (the whole point of the seam:
  * the relational path cannot): a fuzzy search matches every vocabulary
  * token within `maxEdits` Levenshtein of the term.
  *
  * Fuzzy candidate generation has two gears:
  *  - with a DELETION INDEX (symmetric-delete style: every vocabulary
  *    token keyed by itself and each of its 1-deletions, built once at
  *    index time), the term's own 1-deletion neighborhood — at most
  *    `len+1` keys, computed driver-side — looks candidates up by KEY
  *    EQUALITY; `levenshtein` runs only on the candidate tokens as a
  *    verify residual (two different-position deletions can meet at the
  *    same key with true distance 2). Any edit-1 neighbor provably
  *    shares a key (substitution → same-position deletes; insert/delete
  *    → one-side delete), so recall is exact.
  *  - without one, the fallback scans the DISTINCT vocabulary with
  *    `levenshtein` — vocabulary-sized, ≪ corpus and ≪ postings; correct
  *    at any plausible vocabulary, but a linear scan per query where the
  *    deletion index pays hash lookups.
  * Either way only surviving tokens join back to the posting table, so
  * fuzzy costs one small candidate step + the same posting semi-join as
  * the exact path. */
final class InvertedIndexProvider(index: DataFrame,
    deletionIndex: Option[DataFrame] = None, maxEdits: Int = 1)
    extends SearchProvider {
  require(deletionIndex.isEmpty || maxEdits == 1,
    "the 1-deletion neighborhood index only serves maxEdits = 1")

  override val name = "inverted-index"
  override def indexExists: Boolean = index != null

  /** Candidate vocabulary tokens within `maxEdits` of the term. */
  private[graft] def fuzzyTokens(term: String): DataFrame =
    deletionIndex match {
      case Some(dk) =>
        val keys = InvertedIndexProvider.deletionKeys(term)
        dk.filter(col("dkey").isin(keys.map(x => x: Any): _*))
          .select(col("token")).distinct()
          .filter(levenshtein(col("token"), lit(term)) <= maxEdits)
      case None =>
        index.select(col("token")).distinct()
          .filter(levenshtein(col("token"), lit(term)) <= maxEdits)
    }

  override def search(df: DataFrame, q: Search.Query): Search.Result =
    q.term match {
      case Some(t) =>
        val matched =
          if (q.fuzzy) index.join(fuzzyTokens(t.toLowerCase), Seq("token"), "left_semi")
          else index.filter(col("token") === t.toLowerCase)
        val ids = matched.select(col("id"))
        val pruned = df.join(ids, df(q.idField) === ids("id"), "left_semi")
        Search.run(pruned, q.copy(term = None))
      case None => Search.run(df, q)
    }
}

object InvertedIndexProvider {
  /** The indexing job: one (token, id) posting row per distinct token of
    * each term field — a map-side explode + one distinct shuffle. */
  def build(df: DataFrame, idField: String, fields: Seq[String]): DataFrame =
    fields.map(f => df.select(
        col(idField).as("id"),
        explode(split(lower(col(f)), "\\s+")).as("token")))
      .reduce(_ union _)
      .filter(length(col("token")) > 0)
      .distinct()

  /** The 1-deletion neighborhood of one string: itself plus every
    * single-character deletion (the query-side key set, ≤ len+1 keys). */
  private[graft] def deletionKeys(s: String): Seq[String] =
    (s +: s.indices.map(i => s.substring(0, i) + s.substring(i + 1))).distinct

  /** Index-time deletion keys over the DISTINCT vocabulary: (dkey, token)
    * rows — one explode over per-position deletes, distinct, sized ~
    * (avg token length + 1) × vocabulary. Built once next to the posting
    * table; at 100 TB both persist bucketed so fuzzy lookups are
    * hash-partition-local. */
  def buildDeletions(index: DataFrame): DataFrame =
    index.select(col("token")).distinct()
      .select(col("token"),
        explode(sequence(lit(-1), length(col("token")) - 1)).as("i"))
      .select(col("token"),
        when(col("i") < 0, col("token"))
          .otherwise(concat(
            expr("substring(token, 1, i)"),
            expr("substring(token, i + 2)"))).as("dkey"))
      .select(col("dkey"), col("token"))
      .distinct()
}
