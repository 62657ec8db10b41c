package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe data generator: replicate an SF directory `factor`× with
  * shifted keys so the engine can be measured beyond the largest
  * driver-provided SF (`PERF.md` round-8 scale probe).
  *
  * The construction keeps the per-query problem STRUCTURE linear in the
  * factor — not just the row count:
  *  - fact/dim keys shift by copy (`key + k·(max+1)`), so join fan-out,
  *    group cardinality and key-dedup behavior replicate instead of
  *    colliding;
  *  - `events.user_id` shifts per copy: same time range, `factor`× the
  *    users — sessions stay the same length, there are just more of
  *    them (the realistic way an event stream grows);
  *  - `documents.text` goes through a per-copy letter-rotation bijection:
  *    shingle sets within a copy are isomorphic to the original (the
  *    near-dup graph replicates exactly) while cross-copy shingle overlap
  *    is ~zero — so MinHash/SimHash/Jaccard workloads scale linearly
  *    instead of quadratically (10 identical copies of every document
  *    would make every doc a 10-way near-dup cluster);
  *  - `embeddings.embedding` is cyclically rotated by copy index: norms
  *    and the within-copy cosine structure are preserved exactly,
  *    cross-copy vectors decorrelate — ANN/SemDeDup scale linearly.
  *  - `nation`/`region` stay fixed (dimension tables don't scale in
  *    TPC-H-style scaling).
  */
object ScaleUp {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  private def rotAlphabet(k: Int): (String, String) = {
    val r = k % 26
    (Lower + Upper,
      Lower.drop(r) + Lower.take(r) + Upper.drop(r) + Upper.take(r))
  }

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0)

  def scaleTable(spark: SparkSession, srcDir: String, name: String,
      factor: Int): DataFrame = {
    val src = spark.read.parquet(s"$srcDir/$name.parquet")
    name match {
      case "nation" | "region" => src
      case _ =>
        val copies = (0 until factor).map { k =>
          name match {
            case "lineitem" =>
              val (offO, offP, offS) = (lineitemOffsets(spark, srcDir))
              src.withColumn("l_orderkey", col("l_orderkey") + k * offO)
                .withColumn("l_partkey", col("l_partkey") + k * offP)
                .withColumn("l_suppkey", col("l_suppkey") + k * offS)
            case "orders" =>
              val offO = keyOffset(spark, srcDir, "orders", "o_orderkey")
              val offC = keyOffset(spark, srcDir, "customer", "c_custkey")
              src.withColumn("o_orderkey", col("o_orderkey") + k * offO)
                .withColumn("o_custkey", col("o_custkey") + k * offC)
            case "customer" =>
              val offC = keyOffset(spark, srcDir, "customer", "c_custkey")
              src.withColumn("c_custkey", col("c_custkey") + k * offC)
            case "supplier" =>
              val offS = keyOffset(spark, srcDir, "supplier", "s_suppkey")
              src.withColumn("s_suppkey", col("s_suppkey") + k * offS)
            case "part" =>
              val offP = keyOffset(spark, srcDir, "part", "p_partkey")
              src.withColumn("p_partkey", col("p_partkey") + k * offP)
            case "events" =>
              val offE = keyOffset(spark, srcDir, "events", "event_id")
              val offU = keyOffset(spark, srcDir, "events", "user_id")
              src.withColumn("event_id", col("event_id") + k * offE)
                .withColumn("user_id", col("user_id") + k * offU)
            case "documents" =>
              val offD = keyOffset(spark, srcDir, "documents", "doc_id")
              val (from, to) = rotAlphabet(k)
              src.withColumn("doc_id", col("doc_id") + k * offD)
                .withColumn("text", translate(col("text"), from, to))
            case "embeddings" =>
              val offV = keyOffset(spark, srcDir, "embeddings", "vec_id")
              val r = k % 64
              val rot =
                if (r == 0) col("embedding")
                else concat(slice(col("embedding"), r + 1, 64 - r),
                  slice(col("embedding"), 1, r))
              src.withColumn("vec_id", col("vec_id") + k * offV)
                .withColumn("embedding", rot)
            case _ => src
          }
        }
        copies.reduce(_ unionByName _)
    }
  }

  private val offsetCache = scala.collection.mutable.Map[String, Long]()
  private def keyOffset(spark: SparkSession, srcDir: String, table: String,
      c: String): Long =
    offsetCache.getOrElseUpdate(s"$srcDir/$table.$c",
      maxOf(spark.read.parquet(s"$srcDir/$table.parquet"), c) + 1)

  private def lineitemOffsets(spark: SparkSession, srcDir: String) =
    (keyOffset(spark, srcDir, "orders", "o_orderkey"),
      keyOffset(spark, srcDir, "part", "p_partkey"),
      keyOffset(spark, srcDir, "supplier", "s_suppkey"))

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/sf1.0")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Engine.session(graft.core.Engine.cpus)
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      scaleTable(spark, srcDir, t, factor)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t done")
    }
    spark.stop()
  }
}
