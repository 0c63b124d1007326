package graft.etl
import graft.Ckpt.Ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic PII pseudonymization — the GDPR-style anonymized-export
  * path (the reference ships customer anonymization tooling in its
  * Identity/GDPR module; SURVEY §2.9's export pipeline is where it
  * applies): replace direct identifiers with stable hash-derived
  * pseudonyms so exported datasets can still JOIN across tables without
  * exposing who anyone is.
  */
object Pseudonymize {

  /** Key-derived pseudonym: `u_` + the first 12 hex chars of
    * md5(salt ‖ key). Deterministic (no RNG, no lookup-table state to
    * distribute), identical in any engine, and referentially CONSISTENT:
    * every table deriving from the same key yields the same pseudonym,
    * so cross-table joins survive anonymization. 48 bits of pseudonym
    * space keeps the birthday collision probability ≈ n²/2⁴⁹ (< 0.4% at
    * 10⁶ keys); the audit query counts collisions instead of assuming. */
  def pseudo(key: org.apache.spark.sql.Column, salt: String) =
    concat(lit("u_"), substring(md5(concat(lit(salt), lit("|"),
      key.cast("string"))), 1, 12))

  /** Pseudonymized-export audit (q206): customers pseudonymize; orders
    * re-derive the pseudonym from THEIR copy of the key and the two
    * sides join on the pseudonym alone — proving the anonymized tables
    * still link. Per market segment: customer count, distinct-pseudonym
    * count (collision audit: equal iff no collision inside the segment)
    * and the order count recovered through the pseudonym join (must
    * equal the plain-key join's count — the oracle recomputes it from
    * raw keys).
    *
    * Scale shape: pseudonym derivation is map-side codegen'd hashing on
    * both tables (no shuffle added by anonymization itself); the join
    * keys on the pseudonym exactly as the original keyed join would —
    * same shuffle/broadcast shape, which is the operational point of
    * CONSISTENT pseudonymization. Distinct-pseudonym and plain counts
    * are chained as two aggregates (no count_distinct Expand). */
  def pseudonymizeAudit(s: SparkSession, dir: String): DataFrame = {
    val salt = "graft-export-2026"
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        pseudo(col("c_custkey"), salt).as("pid"))
      .ckpt // consumers: segment rollup + order link join
    val seg = cust.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
    val pseg = cust.select(col("c_mktsegment"), col("pid")).distinct()
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_pseudonyms"))
    val linked = Tables.orders(s, dir)
      .select(pseudo(col("o_custkey"), salt).as("pid"))
      .join(cust.select(col("pid"), col("c_mktsegment")), Seq("pid"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_orders_linked"))
    seg.join(pseg, Seq("c_mktsegment"))
      .join(linked, Seq("c_mktsegment"), "left_outer")
      .select(col("c_mktsegment").as("seg"), col("n_customers"),
        col("n_pseudonyms"),
        coalesce(col("n_orders_linked"), lit(0L)).as("n_orders_linked"))
      .orderBy(col("seg"))
  }

  private val pseudonymOracle: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_mktsegment,
      |         'u_' || substr(md5('graft-export-2026' || '|' ||
      |           CAST(c_custkey AS VARCHAR)), 1, 12) AS pid
      |  FROM customer),
      |seg AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
      |        FROM cust GROUP BY 1),
      |pseg AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_pseudonyms
      |         FROM (SELECT DISTINCT c_mktsegment, pid FROM cust) GROUP BY 1),
      |link AS (SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT)
      |           AS n_orders_linked
      |         FROM (SELECT 'u_' || substr(md5('graft-export-2026' || '|' ||
      |                 CAST(o_custkey AS VARCHAR)), 1, 12) AS pid
      |               FROM orders) o
      |         JOIN cust c ON o.pid = c.pid
      |         GROUP BY 1)
      |SELECT seg.c_mktsegment AS seg, seg.n_customers, pseg.n_pseudonyms,
      |       COALESCE(link.n_orders_linked, 0) AS n_orders_linked
      |FROM seg JOIN pseg ON seg.c_mktsegment = pseg.c_mktsegment
      |LEFT JOIN link ON seg.c_mktsegment = link.c_mktsegment
      |ORDER BY seg""".stripMargin

  private final val KAnonymityK = 5L
  /** k-anonymity audit (q243): the release-side complement of q206's
    * pseudonymization — pseudonyms hide WHO a row is, but the
    * quasi-identifier columns left in an export (here nation × market
    * segment) can still single people out when an equivalence class is
    * small. Report the class-SIZE histogram with every size below k
    * flagged unsafe: a release gate passes only when no unsafe rows
    * remain (suppress or generalize those classes first).
    *
    * Scale shape: one keyed aggregate reduces the corpus to equivalence
    * classes, a second reduces classes to the size histogram —
    * bounded by the distinct class sizes, not the corpus. Map-side
    * partials both times; no windows, no joins. */
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("class_size"))
      .groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"))
      .select(col("class_size"), col("n_classes"),
        (col("class_size") * col("n_classes")).as("n_customers"),
        (col("class_size") < KAnonymityK).cast("int").as("unsafe"))
      .orderBy(col("class_size"))

  private def kAnonymityOracle: String =
    s"""WITH cls AS (
       |  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT)
       |    AS class_size
       |  FROM customer GROUP BY 1, 2),
       |h AS (SELECT class_size, CAST(COUNT(*) AS BIGINT) AS n_classes
       |      FROM cls GROUP BY 1)
       |SELECT class_size, n_classes,
       |       CAST(class_size * n_classes AS BIGINT) AS n_customers,
       |       CAST(CASE WHEN class_size < $KAnonymityK THEN 1 ELSE 0 END AS INT)
       |         AS unsafe
       |FROM h
       |ORDER BY class_size""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q206_pseudonymize", (s, d) => pseudonymizeAudit(s, d),
      Some(pseudonymOracle)),
    Q("q243_k_anonymity", (s, d) => kAnonymity(s, d),
      Some(kAnonymityOracle)))
}
