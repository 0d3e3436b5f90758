package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 1000×-class graph soak (r13 verdict task #5): measure the three
  * iterative-graph leaders — label_prop, ktruss, kcore — at an
  * sf100-equivalent built by key-offset replication of the EDGE table
  * (the single edge-bearing input; ScaleUp's FK-offset replication
  * applied one step later in the dataflow, producing the identical
  * disjoint-replica graph without regenerating an 18 GB lineitem or
  * re-running the pair self-join at 1000×).
  *
  * Replicated edges are parquet-persisted under <workDir> and re-read,
  * so the timed run scans from storage like the bench queries do. The
  * prediction under test: disjoint replicas leave per-component depth
  * unchanged, so ROUND COUNTS should stay flat from sf10 to sf100
  * (kCore peel depth is a property of each component, not the corpus)
  * while per-round work scales with |E| — any super-linear wall-clock
  * cliff is a shuffle/memory artifact to diagnose, not algorithmic.
  *
  * Not part of the benchmark (like ScaleUp).
  * Usage: runMain graft.GraphScale <baseDir> <factor> <workDir> [family]
  *   family ∈ all|labelprop|kcore|ktruss (default all); timing is
  *   single-shot per family (an sf100 label_prop run is ~10 min — a
  *   median-of-3 would triple a soak whose signal is the growth RATIO
  *   against the warm sf10 row, noted beside it in BASELINE.md). */
object GraphScale {
  /** One loop's [[graft.operators.Rounds]] telemetry on one line; `-`
    * is an unprobed round. */
  private def telemetry(r: graft.operators.Rounds[_]): String =
    s"rounds=${r.rounds} perRound=${r.perRound.map(_.fold("-")(_.toString)).mkString(",")} " +
      s"converged=${r.converged}"

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val factor = args(1).toInt
    val workDir = args(2)
    val family = if (args.length > 3) args(3) else "all"
    // the per-round |E| exchanges size their own width from leaf bytes
    // (Graph.edgeWidth), so the session keeps the default partitions
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus)
    println(s"GRAPHSCALE cpus=$cpus")
    spark.range(1000).selectExpr("sum(id)").collect()

    val li = Tables.lineitem(spark, baseDir)

    /** union `factor` key-offset replicas of a long-id frame. */
    def replicate(df: DataFrame, cols: Seq[String]): DataFrame = {
      val strides = cols.map(c =>
        c -> (df.agg(max(col(c))).collect()(0).getLong(0) + 1L))
      df.select(explode(sequence(lit(0), lit(factor - 1))).as("__r"),
          col("*"))
        .select(strides.map { case (c, s) =>
          (col(c) + col("__r") * s).as(c)
        }: _*)
    }

    def persisted(name: String)(build: => DataFrame): DataFrame = {
      val path = s"$workDir/${name}_x$factor.parquet"
      if (!new java.io.File(path).exists()) {
        println(s"GRAPHSCALE building $path")
        build.write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"GRAPHSCALE $label%-12s wall=${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }

    if (family == "all" || family == "labelprop") {
      // exact q_label_prop pair domain (distinct part↔supplier), offset
      // at the LONG level, string ids built per replica — each replica
      // is a disjoint component with the same min-label string contract
      val pairs = persisted("lp_pairs") {
        replicate(li.select(col("l_partkey").as("pk"),
          col("l_suppkey").as("sk")).distinct(), Seq("pk", "sk"))
      }
      val ps = pairs.select((col("pk") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
      val edges = ps.unionByName(ps.select(col("dst").as("src"), col("src").as("dst")))
      val dec = (c: org.apache.spark.sql.Column) =>
        when(c % 2 === 0, concat(lit("p"), shiftright(c, 1).cast("string")))
          .otherwise(concat(lit("s"), shiftright(c, 1).cast("string")))
      println(s"GRAPHSCALE labelprop edges=${edges.count()}")
      val run = timed("labelprop") {
        val r = graft.operators.Graph.labelPropagationRun(edges, 3, dec)
        val n = r.result.count()
        println(s"GRAPHSCALE labelprop nodes=$n ${telemetry(r)}")
        r
      }
      run.result.unpersist()
    }

    // r15 (r14 verdict task #4): the remaining iterative leaders on the
    // SAME persisted pair parquet as labelprop — pagerank/ppr run both
    // directions of the (2·pk, 2·sk+1) long graph, hits the directed
    // form, exactly the q_pagerank/q_hits/q_ppr constructions.
    if (family == "pagerank" || family == "hits" || family == "ppr") {
      val pairs = persisted("lp_pairs") {
        replicate(li.select(col("l_partkey").as("pk"),
          col("l_suppkey").as("sk")).distinct(), Seq("pk", "sk"))
      }
      val ps = pairs.select((col("pk") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
      lazy val und = ps.unionByName(
        ps.select(col("dst").as("src"), col("src").as("dst")))
      if (family == "pagerank") {
        println(s"GRAPHSCALE pagerank edges=${und.count()}")
        timed("pagerank") {
          val n = graft.operators.Graph.pageRank(und, 3).count()
          println(s"GRAPHSCALE pagerank nodes=$n")
        }
      }
      if (family == "hits") {
        println(s"GRAPHSCALE hits edges=${ps.count()}")
        timed("hits") {
          val n = graft.operators.Graph.hits(ps, 3).count()
          println(s"GRAPHSCALE hits nodes=$n")
        }
      }
      if (family == "ppr") {
        // q_ppr's exact seed set: the five base s0–s4 suppliers — fixed
        // personalization over a growing graph, the production regime
        val seeds = li.filter(col("l_suppkey") < 5)
          .select(col("l_suppkey")).distinct()
          .select((col("l_suppkey") * 2 + 1).as("id"))
        println(s"GRAPHSCALE ppr edges=${und.count()} seeds=5")
        timed("ppr") {
          val n = graft.operators.Graph.personalizedPageRank(und, seeds, 3).count()
          println(s"GRAPHSCALE ppr nodes=$n")
        }
      }
    }

    if (family == "all" || family == "kcore") {
      // exact q_kcore pair build (co-ordered parts, 7% hash sample)
      val pp = persisted("kcore_pairs") {
        val l2 = li.select(col("l_orderkey"), col("l_partkey"))
        val p = l2.as("a")
          .join(l2.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
          .distinct()
          .filter(graft.operators.Corpus.hashUnit(
            concat(col("x").cast("string"), lit(":"),
              col("y").cast("string")), "kcore") < 0.07)
        replicate(p, Seq("x", "y"))
      }
      val edges = pp.select(col("x").as("src"), col("y").as("dst"))
        .unionByName(pp.select(col("y").as("src"), col("x").as("dst")))
      println(s"GRAPHSCALE kcore edges=${edges.count()}")
      timed("kcore") {
        val r = graft.operators.Graph.kCoreRun(edges, 4)
        val n = r.result.count()
        println(s"GRAPHSCALE kcore members=$n ${telemetry(r)}")
      }
    }

    if (family == "all" || family == "ktruss") {
      // exact q_ktruss pair build (12% hash sample, one direction)
      val pp = persisted("ktruss_pairs") {
        val l2 = li.select(col("l_orderkey"), col("l_partkey"))
        val p = l2.as("a")
          .join(l2.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
          .distinct()
          .filter(graft.operators.Corpus.hashUnit(
            concat(col("x").cast("string"), lit(":"),
              col("y").cast("string")), "ktruss") < 0.12)
        replicate(p, Seq("x", "y"))
      }
      val edges = pp.select(col("x").as("src"), col("y").as("dst"))
      println(s"GRAPHSCALE ktruss edges=${edges.count()}")
      timed("ktruss") {
        val r = graft.operators.Graph.kTrussRun(edges, 4)
        val n = r.result.count()
        println(s"GRAPHSCALE ktruss edges_kept=$n ${telemetry(r)}")
      }
    }
    spark.stop()
  }
}
