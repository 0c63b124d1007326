package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** sf1 scale-proof data generator (round-9 verdict item 3): derives a
  * 10× corpus from the driver's sf0.1 parquet by key-offset replication,
  * PURELY for scaling measurement (BENCH at sf1) — never for the
  * correctness gate, whose inputs stay the driver-generated SFs.
  *
  * Referential integrity holds per replica (order→customer,
  * lineitem→order/part/supplier, event→user all shift together).
  * Two columns are perturbed per replica so data-dependent operators
  * scale like real 10× data instead of hitting replication artifacts:
  *  - `documents.text` rotates vowels (and, for replicas 5-9, a
  *    consonant set) so cross-replica shingle overlap vanishes —
  *    otherwise every doc gains 9 exact twins and LSH bucket pair
  *    counts grow quadratically in the replica count, a data artifact,
  *    not an engine property;
  *  - `embeddings.embedding` gets a small per-replica directional
  *    nudge so ANN neighborhoods aren't 10 identical copies.
  *
  * Usage: Test/runMain graft.tools.GenSf1 <sf0.1 dir> <out dir>
  */
object GenSf1 {

  def main(args: Array[String]): Unit = {
    val in = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10

    // events.parquet carries TIMESTAMP(NANOS); the session reads it the
    // way the engine does (nanos surface as long, normalized to micros below)
    val spark = graft.GraftSession.local(16)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.sparkContext.setLogLevel("ERROR")

    def tbl(name: String): DataFrame = spark.read.parquet(s"$in/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"wrote $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // key strides: one power-of-ten above each table's max key
    def stride(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      var s = 10L
      while (s <= mx) s *= 10
      s
    }

    val (customer, supplier, part, orders, lineitem, events, documents, embeddings) =
      (tbl("customer"), tbl("supplier"), tbl("part"), tbl("orders"),
        tbl("lineitem"), tbl("events"), tbl("documents"), tbl("embeddings"))
    val C = stride(customer, "c_custkey")
    val S = stride(supplier, "s_suppkey")
    val P = stride(part, "p_partkey")
    val O = stride(orders, "o_orderkey")
    val E = stride(events, "event_id")
    val D = stride(documents, "doc_id")
    val V = stride(embeddings, "vec_id")
    println(s"strides: C=$C S=$S P=$P O=$O E=$E D=$D V=$V")

    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until replicas).map(i => f(df, i)).reduce(_ unionByName _)

    // fixed dimensions copy through
    write(tbl("region"), "region")
    write(tbl("nation"), "nation")

    write(rep(customer)((df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * C))), "customer")
    write(rep(supplier)((df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * S))), "supplier")
    write(rep(part)((df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * P))), "part")
    write(rep(orders)((df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * O))
        .withColumn("o_custkey", col("o_custkey") + lit(i * C))), "orders")
    write(rep(lineitem)((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * O))
        .withColumn("l_partkey", col("l_partkey") + lit(i * P))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * S))), "lineitem")
    // normalize the nanos long to a micros timestamp once (same div-1000
    // conversion as graft.Tables.events; micro-aligned, lossless), so the
    // sf1 copy is an ordinary TIMESTAMP column
    val eventsTs =
      if (events.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        events.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else events
    write(rep(eventsTs)((df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * E))
        .withColumn("user_id", col("user_id") + lit(i * C))), "events")

    // per-replica text transform: i=0 identity; vowels rotate by i%5;
    // replicas 5-9 additionally rotate a consonant set → 10 distinct maps
    def rot(s: String, k: Int): String = s.drop(k % s.length) + s.take(k % s.length)
    write(rep(documents) { (df, i) =>
      val txt =
        if (i == 0) col("text")
        else {
          val vow = translate(col("text"), "aeiou", rot("aeiou", i % 5))
          if (i >= 5) translate(vow, "rstln", rot("rstln", 1 + i % 5)) else vow
        }
      df.withColumn("doc_id", col("doc_id") + lit(i * D))
        .withColumn("text", txt)
        .withColumn("n_chars", length(txt).cast("long"))
    }, "documents")

    write(rep(embeddings) { (df, i) =>
      val emb =
        if (i == 0) col("embedding")
        else expr(s"transform(embedding, (x, j) -> " +
          s"cast(x + ${0.003 * i} * (j % 7 - 3) as float))")
      df.withColumn("vec_id", col("vec_id") + lit(i * V))
        .withColumn("embedding", emb)
    }, "embeddings")

    spark.stop()
  }
}
