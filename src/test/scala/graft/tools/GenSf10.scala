package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** One-off sf10 probe data: 100-replica key-offset copies of sf0.1's
  * `lineitem`, `orders`, `documents` and `embeddings` — the tables the
  * pair/posting families (d18 probe), the graph supersteps and the
  * k-means/IVF family (d19 probe) read — for a third scaling point
  * above sf1. No other table is written: notably no `customer`, so the
  * replicated `o_custkey` values deliberately dangle (the graph probe
  * needs disjoint customer-part subgraphs, not a consistent dim).
  * Never used by the correctness gate.
  *
  * Text perturbation generalizes GenSf1's: GenSf1's vowel/consonant
  * rotation yields only 10 distinct maps, so at 100 replicas every doc
  * would gain 9 EXACT twins and the shingle families would measure a
  * replication artifact (quadratic bucket growth), not engine scaling.
  * Here each replica composes a 10-letter rotation keyed by `i % 10`
  * with a second 10-letter rotation keyed by `i / 10` — 100 distinct
  * injective character maps, so cross-replica shingle overlap vanishes
  * exactly as in real 100× data. Replica 0 is the identity (the
  * original rows survive verbatim, as in GenSf1).
  *
  * Usage: Test/runMain graft.tools.GenSf10 <sf0.1 dir> <out dir> [reps]
  */
object GenSf10 {

  def main(args: Array[String]): Unit = {
    val in = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf10"
    val replicas = if (args.length > 2) args(2).toInt else 100

    val spark = graft.GraftSession.local(16)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.sparkContext.setLogLevel("ERROR")

    def tbl(name: String): DataFrame = spark.read.parquet(s"$in/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"wrote $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    def stride(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      var s = 10L
      while (s <= mx) s *= 10
      s
    }
    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until replicas).map(i => f(df, i)).reduce(_ unionByName _)

    val lineitem = tbl("lineitem")
    val orders = tbl("orders")
    val documents = tbl("documents")
    val embeddings = tbl("embeddings")
    val O = stride(lineitem, "l_orderkey")
    val P = stride(lineitem, "l_partkey")
    val S = stride(lineitem, "l_suppkey")
    val C = stride(orders, "o_custkey")
    val D = stride(documents, "doc_id")
    val V = stride(embeddings, "vec_id")
    println(s"strides: O=$O P=$P S=$S C=$C D=$D V=$V replicas=$replicas")

    write(rep(lineitem)((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * O))
        .withColumn("l_partkey", col("l_partkey") + lit(i * P))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * S))), "lineitem")

    // orders for the d19 graph-superstep probe: offsetting BOTH keys makes
    // each replica a disjoint customer-part subgraph — vertex and edge
    // counts scale 100x while per-vertex degree stays realistic, so the
    // probe measures superstep scaling, not replication-induced density
    write(rep(orders)((df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * O))
        .withColumn("o_custkey", col("o_custkey") + lit(i * C))), "orders")

    // 100 distinct injective maps: rotate one letter set by i%10 and a
    // disjoint set by i/10 — composition is injective (translate with a
    // permutation of the same alphabet), identity at i=0
    def rot(s: String, k: Int): String = s.drop(k % s.length) + s.take(k % s.length)
    val setA = "aeioulnrst"
    val setB = "bcdfgmpvwy"
    write(rep(documents) { (df, i) =>
      val txt =
        if (i == 0) col("text")
        else translate(
          translate(col("text"), setA, rot(setA, i % 10)),
          setB, rot(setB, (i / 10) % 10))
      df.withColumn("doc_id", col("doc_id") + lit(i * D))
        .withColumn("text", txt)
        .withColumn("n_chars", length(txt).cast("long"))
    }, "documents")

    // embeddings for the d19 k-means/IVF probe (GenSf1's directional
    // perturbation, scaled down 10x so 100 replicas stay in-range):
    // replicas are distinct but near the originals — centroid count and
    // assignment cost scale with the corpus, the realistic 100x shape
    write(rep(embeddings) { (df, i) =>
      val emb =
        if (i == 0) col("embedding")
        else expr(s"transform(embedding, (x, j) -> " +
          s"cast(x + ${0.0003 * i} * (j % 7 - 3) as float))")
      df.withColumn("vec_id", col("vec_id") + lit(i * V))
        .withColumn("embedding", emb)
    }, "embeddings")

    spark.stop()
  }
}
