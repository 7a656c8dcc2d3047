// Generates an sf1 testdata dir — every sf0.1 table at 10x —
// so the WHOLE 129-query oracle suite + paired bench can run one scale
// factor above the bench point. Replication uses per-replica offsets,
// so each replica is an independent copy of the sf0.1 workload:
//  - dims region/nation copy verbatim (TPC-H holds them fixed);
//  - fact/dim keys get rep * 100,000,000 offsets with REFERENTIAL
//    INTEGRITY preserved (lineitem's part/supp/order keys shift with
//    their parents', orders' custkey with customer's) so joins see 10
//    independent universes of the sf0.1 workload;
//  - events replicate per-user (user_id/event_id offsets, ts
//    untouched) so sessions, funnels, and retention structure are 10
//    independent user populations over the same month;
//  - documents use the dup-rate-preserving token-suffix construction
//    (each replica suffixes every token with its replica id; n_chars
//    recomputed to keep the n_chars == length(text) invariant);
//  - embeddings offset vec_id and nudge element 0 by rep * 1e-3 so
//    replicas are near- but not exact-duplicates (exact copies would
//    make every ANN top-k a 10-way tie on identical distances).
// Output: /tmp/graft_sf1/<table>.parquet as Spark-layout DIRECTORIES
// (multi-row-group — scan-parallel, unlike the single-row-group driver
// files); check_oracle.py/bench_duckdb.py glob directories.
// Run: sbt -batch "runMain graft.GenSf1"
package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object GenSf1 {
  val Root = "/tmp/graft_sf1"

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master(ToolSpark.master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = "/root/testdata/sf0.1"

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame, parts: Int = 32): Unit = {
      val out = s"$Root/$t.parquet"
      // _SUCCESS-gated skip (r19 ADVICE, same fix as GenSf10): a bare
      // directory left by an interrupted run must not read as complete
      if (new java.io.File(out, "_SUCCESS").exists()) {
        println(s"GENSF1 skip $t"); return
      }
      df.repartition(parts).write.mode("overwrite").parquet(out)
      println(s"GENSF1 wrote $t")
    }
    def replicate(t: String, f: (DataFrame, Int) => DataFrame,
        parts: Int = 32): Unit = {
      val base = read(t)
      write(t, (0 until 10).map(rep => f(base, rep)).reduce(_ unionByName _),
        parts)
    }
    val K = 100000000L // key offset per replica

    write("region", read("region"), parts = 1)
    write("nation", read("nation"), parts = 1)
    replicate("customer", (d, rep) => d.select(
      (col("c_custkey") + lit(rep * K)).as("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment")), parts = 4)
    replicate("supplier", (d, rep) => d.select(
      (col("s_suppkey") + lit(rep * K)).as("s_suppkey"),
      col("s_name"), col("s_nationkey"), col("s_acctbal")), parts = 2)
    replicate("part", (d, rep) => d.select(
      (col("p_partkey") + lit(rep * K)).as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")), parts = 4)
    replicate("orders", (d, rep) => d.select(
      (col("o_orderkey") + lit(rep * K)).as("o_orderkey"),
      (col("o_custkey") + lit(rep * K)).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), parts = 8)
    replicate("lineitem", (d, rep) => d.select(
      (col("l_orderkey") + lit(rep * K)).as("l_orderkey"),
      (col("l_partkey") + lit(rep * K)).as("l_partkey"),
      (col("l_suppkey") + lit(rep * K)).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), parts = 32)
    replicate("events", (d, rep) => d.select(
      (col("event_id") + lit(rep * 1000000000L)).as("event_id"),
      col("ts"),
      (col("user_id") + lit(rep * 1000000000L)).as("user_id"),
      col("event_type"), col("value"), col("props")), parts = 16)
    // doc_id offset 1e9 is divisible by 20, keeping each replica's
    // doc_id % 20 train/eval slice identical to the original's
    replicate("documents", (d, rep) => d.select(
      (col("doc_id") + lit(rep * 1000000000L)).as("doc_id"),
      (if (rep == 0) col("text")
       else concat_ws(" ", transform(split(col("text"), " "),
         x => concat(x, lit(s"_$rep"))))).as("text"),
      col("lang"), col("source")).withColumn(
      "n_chars", length(col("text")).cast("long")), parts = 16)
    replicate("embeddings", (d, rep) => d.select(
      (col("vec_id") + lit(rep * 1000000000L)).as("vec_id"),
      (if (rep == 0) col("embedding")
       else transform(col("embedding"), (x, i) =>
         when(i === 0, x + lit(rep.toFloat * 1e-3f)).otherwise(x)))
        .as("embedding"),
      col("label")), parts = 4)

    // row-count report
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      println(s"GENSF1 $t rows=" +
        spark.read.parquet(s"$Root/$t.parquet").count())
    }
    spark.stop()
  }
}
