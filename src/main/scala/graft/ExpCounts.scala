package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off relation-size probe for the r16 partition-scoping calibration:
  * prints the row counts of the intermediate relations whose shuffle
  * partition counts the scale-adaptive derivation must reproduce
  * (trade-graph edges, near-dup pair graph, d13's distinct gram set,
  * base table cardinalities). Measurement tool, not a graded query.
  */
object ExpCounts {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(GraftSession.CodegenCacheKey, GraftSession.CodegenCacheMaxEntries)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t = Tables(spark, sfDir)

    def p(name: String, n: Long): Unit = println(f"[counts] $name%-28s $n%12d")

    p("lineitem", t.lineitem.count())
    p("orders", t.orders.count())
    p("documents", t.documents.count())
    p("events", t.events.count())
    val pairs = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("src"),
        (col("o_custkey") * 2 + 1).as("dst"))
      .distinct()
    p("trade_edges_directed", pairs.count())
    val nd = graft.dedup.Dedup.candidatePairs(t)
    p("neardup_verified_pairs", nd.count())
    val grams13 = t.documentsWide
      .withColumn("toks", expr(graft.functions.exprs.wsTokensSql))
      .select(col("source"),
        explode(graft.functions.exprs.ngram_hashes(col("toks"), 5)).as("g"))
      .distinct()
    p("d13_distinct_src_grams", grams13.count())
    val docToks = t.documentsWide
      .select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("tok"))
    p("t13_doc_tokens", docToks.count())
    spark.stop()
  }
}
