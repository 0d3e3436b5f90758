package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up of the harness testdata (dev-loop tool, not part
  * of the library contract): writes an
  * sfN-equivalent directory by unioning `copies` key-offset replicas of
  * every scaling table. Dimensions (region, nation) stay fixed — TPC-H
  * semantics — and every foreign key is offset by the SAME per-entity
  * stride as its parent's primary key, so copy c of orders references
  * copy c of customers, copy c of lineitem references copy c of
  * orders/part/supplier, and all oracle joins stay exact at the larger
  * scale. Strides are `maxKey(sf0.1) + 1`, computed from the source, so
  * replica key ranges never collide.
  *
  * Content columns are copied VERBATIM: each document text, embedding
  * vector, or customer name appears `copies` times under distinct keys.
  * For the dedup/CC/ANN soak families that is a feature, not dilution —
  * duplicate clusters, LSH band collisions, and IVF cell densities all
  * GROW with scale exactly as the 100-TB brief assumes (more data ⇒
  * more near-duplicates, not fewer). Queries whose semantics key on
  * global value distributions (quantiles, rates) see the same
  * distribution 10× over, which is the neutral choice for measuring
  * plan growth.
  *
  * Output layout: dims stay ONE bare `<table>.parquet` FILE (testdata
  * layout); scaled tables become a `<table>.parquet` DIRECTORY of
  * `copies` part files (~source-file-sized each) — single 100MB+ files
  * with one row group would scan as ONE Spark task and masquerade as a
  * parallelism cliff, and a many-file layout is what 100 TB actually
  * looks like. Tables.load reads either; tools/check_oracle.py globs
  * directories.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> [copies=10]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    require(copies >= 1, s"copies must be >= 1: $copies")
    val spark = Sessions.local(Sessions.cpus)

    def maxKey(table: String, key: String): Long =
      Tables.load(spark, src, table).agg(max(col(key))).collect()(0).getLong(0)

    // strides from the SOURCE's key ranges: offsets are multiples of
    // (max+1), so no replica can collide with another
    val ordStride  = maxKey("orders", "o_orderkey") + 1
    val custStride = maxKey("customer", "c_custkey") + 1
    val partStride = maxKey("part", "p_partkey") + 1
    val suppStride = maxKey("supplier", "s_suppkey") + 1
    val evStride   = maxKey("events", "event_id") + 1
    val userStride = {
      val r = Tables.load(spark, src, "events").agg(max(col("user_id"))).collect()(0)
      r.getLong(0) + 1
    }
    val docStride  = maxKey("documents", "doc_id") + 1
    val vecStride  = maxKey("embeddings", "vec_id") + 1

    /** `copies` key-offset replicas unioned; non-listed columns verbatim. */
    def replicate(df: DataFrame, offsets: (String, Long)*): DataFrame =
      (0 until copies).map { c =>
        offsets.foldLeft(df) { case (d, (k, stride)) =>
          d.withColumn(k, col(k) + lit(stride * c))
        }
      }.reduce(_ unionByName _)

    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

    /** Write as ONE bare file `<out>/<name>.parquet` (testdata layout). */
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
        .head.getPath
      val dest = new org.apache.hadoop.fs.Path(s"$out/$name.parquet")
      if (fs.exists(dest)) fs.delete(dest, true)
      fs.rename(part, dest)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[scaleup] $name -> $dest (1 file)")
    }

    /** Write as a `<out>/<name>.parquet` DIRECTORY of ~`copies` part
      * files, each about the size of the source's single file. */
    def writeMany(df: DataFrame, name: String): Unit = {
      val dest = new org.apache.hadoop.fs.Path(s"$out/$name.parquet")
      if (fs.exists(dest)) fs.delete(dest, true)
      df.repartition(copies).write.mode("overwrite").parquet(dest.toString)
      println(s"[scaleup] $name -> $dest ($copies files)")
    }

    // dims: fixed (TPC-H does not scale region/nation; nationkey FKs
    // in customer/supplier stay valid verbatim)
    writeOne(Tables.load(spark, src, "region"), "region")
    writeOne(Tables.load(spark, src, "nation"), "nation")

    writeMany(replicate(Tables.load(spark, src, "customer"),
      "c_custkey" -> custStride), "customer")
    writeMany(replicate(Tables.load(spark, src, "supplier"),
      "s_suppkey" -> suppStride), "supplier")
    writeMany(replicate(Tables.load(spark, src, "part"),
      "p_partkey" -> partStride), "part")
    writeMany(replicate(Tables.load(spark, src, "orders"),
      "o_orderkey" -> ordStride, "o_custkey" -> custStride), "orders")
    writeMany(replicate(Tables.load(spark, src, "lineitem"),
      "l_orderkey" -> ordStride, "l_partkey" -> partStride,
      "l_suppkey" -> suppStride), "lineitem")
    // events: raw load (no ts normalization) so the on-disk ts type is
    // preserved verbatim across the copy — oracle SQL sees what it sees
    // at the source scale
    writeMany(replicate(spark.read.parquet(s"$src/events.parquet"),
      "event_id" -> evStride, "user_id" -> userStride), "events")
    writeMany(replicate(Tables.load(spark, src, "documents"),
      "doc_id" -> docStride), "documents")
    writeMany(replicate(Tables.load(spark, src, "embeddings"),
      "vec_id" -> vecStride), "embeddings")

    spark.stop()
  }
}
