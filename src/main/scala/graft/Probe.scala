package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-only profiling scratch: time arbitrary sub-plans of the hot bench
  * rows in isolation (noop sink, same session shape as Bench). Not part
  * of the driver contract; used during optimization rounds to attribute
  * wall time to plan regions before changing anything.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.Probe <sfDir> <probe...>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = args.tail.toSet
    val spark = LocalSession()

    def timed(name: String)(mk: => DataFrame): Unit =
      if (which.isEmpty || which(name)) {
        // warm once, then two timed passes
        def once(): Double = {
          val t0 = System.nanoTime()
          mk.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once()
        val a = once(); val b = once()
        println(f"PROBE $name%-40s ${math.min(a, b)}%8.3f s  (passes $a%.3f/$b%.3f)")
      }

    probes(spark, sfDir).foreach { case (n, mk) => timed(n)(mk()) }
    if (which("takedown_parts")) takedownParts(spark, sfDir)
    if (which("pagerank_parts")) pagerankParts(spark, sfDir)
    if (which("mh_parts")) mhParts(spark, sfDir)
    if (which("rewrite_plan")) rewritePlan(spark, sfDir)
    spark.stop()
  }

  /** Dump the `.explain("formatted")` of rewriteLeaves' pruned scan (the
    * exact predicate the takedown rewrite uses, via Compaction.leafPrune)
    * over a representative partitioned table — evidence that the
    * touched-leaf filter resolves to PartitionFilters and untouched
    * leaves are never opened. Covers the single-column (kp) and the
    * two-level (table, bucket) layouts.
    */
  def rewritePlan(s: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.functions._
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_rewrite_plan_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    graft.sources.Compaction.rm(root)
    val one = new java.io.File(root, "kp").toString
    s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"),
        pmod(xxhash64(col("doc_id")), lit(16)).as("kp"))
      .write.mode("overwrite").partitionBy("kp").parquet(one)
    val two = new java.io.File(root, "tb").toString
    s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(3)).cast("int").as("table"),
        pmod(xxhash64(col("doc_id")), lit(8)).as("bucket"))
      .write.mode("overwrite").partitionBy("table", "bucket").parquet(two)
    println("== rewriteLeaves pruned scan, single partition column " +
      "(kp in {3, 7}) ==")
    println(s.read.parquet(one)
      .where(graft.sources.Compaction.leafPrune(Seq("kp"),
        Seq(Seq(3), Seq(7))))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    println("== rewriteLeavesN pruned scan, two-level (table, bucket) " +
      "leaves {(0,1), (2,5)} ==")
    println(s.read.parquet(two)
      .where(graft.sources.Compaction.leafPrune(Seq("table", "bucket"),
        Seq(Seq(0, 1), Seq(2, 5))))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
  }

  /** Decompose q_pagerank: the trade-edge build (fact-fact shuffle +
    * broadcast dims + edge aggregation), 1-round vs 5-round pageRank
    * (the diff/4 is the per-round driver-loop cost), and the full
    * declared row. */
  def pagerankParts(s: SparkSession, d: String): Unit =
    (1 to 2).foreach { pass =>
      def t[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"PART p$pass $name%-30s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        r
      }
      import org.apache.spark.sql.functions._
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      t("edges_select")(noop(Queries.tradeEdges(s, d)))
      t("edges_agg")(noop(Queries.tradeEdges(s, d)
        .groupBy("src", "dst").agg(sum(lit(1.0)).as("w"))))
      t("pagerank_1iter")(noop(graft.operators.Graph.pageRank(
        Queries.tradeEdges(s, d), "src", "dst", iterations = 1)))
      t("pagerank_5iter")(noop(graft.operators.Graph.pageRank(
        Queries.tradeEdges(s, d), "src", "dst", iterations = 5)))
      t("full_row")(noop(SparkEntry.queries("q_pagerank")(s, d)))
    }

  /** Decompose dedup_minhash / dedup_clean_transitive_mh: signature
    * pass alone, the verified pair list, components closure over a
    * materialized pair list, and both full rows. */
  def mhParts(s: SparkSession, d: String): Unit =
    (1 to 2).foreach { pass =>
      def t[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"PART p$pass $name%-30s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        r
      }
      import org.apache.spark.sql.functions._
      import graft.functions.HashedShingles.hashedShingles
      import graft.functions.MinhashSig.minhashSig
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val docs = s.read.parquet(s"$d/documents.parquet")
      t("docs_scan")(noop(docs.select("doc_id", "text")))
      t("sigs_only")(noop(docs.select(col("doc_id"),
        minhashSig(hashedShingles(col("text"), 5), 32).as("sig"))))
      t("pairs_lazy")(noop(graft.operators.Dedup.minhashLsh(
        docs, "doc_id", "text", threshold = 0.8,
        persistIntermediates = false)))
      val pairs = t("pairs_checkpoint")(graft.operators.Dedup.minhashLsh(
        docs, "doc_id", "text", threshold = 0.8,
        persistIntermediates = false).localCheckpoint(true))
      t("components_only")(noop(graft.operators.Components
        .connectedComponents(pairs, "id_a", "id_b")))
      t("keep_minima_over_ckpt")(noop(graft.operators.Components
        .keepComponentMinima(docs, "doc_id", pairs, "id_a", "id_b")
        .select("doc_id")))
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(pairs)
      t("full_row_mh")(noop(SparkEntry.queries("dedup_clean_transitive_mh")(s, d)))
      t("full_row_minhash")(noop(SparkEntry.queries("dedup_minhash")(s, d)))
    }

  /** Time retractDocs' sub-verbs one by one on a fresh staged copy. */
  def takedownParts(s: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.functions._
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PART $name%-30s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    SparkEntry.prepares("q_takedown_apply")(s, d)
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_takedown_work_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    new java.io.File(work, "_PRISTINE").delete()
    val corpusPath = new java.io.File(work, "corpus").toString
    val keys = s.read.parquet(s"$d/documents.parquet")
      .where(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").cast("long").as("__rid")).distinct()
      .localCheckpoint(true)
    t("keys.count")(keys.count())
    val corpus = s.read.parquet(corpusPath)
    val docs = t("docs.checkpoint") {
      corpus.join(broadcast(keys),
          corpus("doc_id").cast("long") === col("__rid"), "left_semi")
        .localCheckpoint(true)
    }
    t("docs.count")(docs.count())
    t("text.retract")(graft.sources.TextIndex.retract(s,
      graft.sources.TextIndex.Cfg(new java.io.File(work, "ti").toString,
        partitions = 16, positional = true), docs, "doc_id", "text"))
    t("bloom.retract")(graft.sources.BloomKeyIndex.retractKeys(docs,
      graft.sources.BloomKeyIndex.Cfg(
        new java.io.File(work, "bk").toString, keyExpr = "text")))
    t("minhash.retract")(graft.operators.Dedup.retractFromMinhashIndex(
      s, new java.io.File(work, "mh").toString, keys, "__rid"))
    t("corpus.retract")(graft.sources.Compaction.retractRows(s,
      corpusPath, keys, (tt, k) => tt("doc_id").cast("long") === k("__rid")))
  }

  def probes(s: SparkSession, d: String)
      : Seq[(String, () => DataFrame)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val orders = () => Tables.load(s, d, "orders")
    // mirror of Sampling.withPoissonDraws (private) for sub-plan timing
    def base() = orders().select(
      col("o_orderkey").cast("long").as("__id"),
      col("o_totalprice").cast("decimal(18,2)").as("__v"))
    def draws(replicates: Int = 64, seed: Long = 40503L) = {
      val h1 = pmod(col("__id") * lit(2654435761L) + col("__r") * lit(seed),
        lit(4294967296L))
      val h2 = h1.bitwiseXOR(shiftright(h1, 16))
      val h3 = pmod(h2 * lit(1540483477L), lit(4294967296L))
      val h4 = h3.bitwiseXOR(shiftright(h3, 13))
      val k = graft.operators.Sampling.poisson1Cdf.zipWithIndex.foldRight(
          lit(graft.operators.Sampling.poisson1Cdf.size)
            : org.apache.spark.sql.Column) {
        case ((c, i), rest) => when(col("__u") < lit(c), lit(i))
          .otherwise(rest)
      }
      base()
        .withColumn("__r", explode(sequence(lit(0), lit(replicates - 1))))
        .withColumn("__u", h4.cast("double") / lit(4294967296.0))
        .withColumn("__k", k)
    }
    Seq(
      "orders_scan2col" -> (() =>
        orders().select(col("o_orderkey"), col("o_totalprice"))),
      "inflate_only" -> (() => base().withColumn("__r",
        explode(sequence(lit(0), lit(63))))),
      "draws_only" -> (() => draws()),
      "draws_agg_r" -> (() => draws().groupBy("__r")
        .agg(sum(col("__k") * col("__v")).as("s"), sum("__k").as("k"))),
      "draws_agg_r_long" -> (() => draws()
        .withColumn("__vl", (col("__v") * 100).cast("long"))
        .groupBy("__r")
        .agg(sum(col("__k") * col("__vl")).as("s"), sum("__k").as("k"))),
      "quantile_window" -> (() => {
        val inflated = draws().select(col("__r"), col("__id"), col("__v"),
            col("__k"))
          .unionAll(base().select(lit(-1).as("__r"), col("__id"),
            col("__v"), lit(1).as("__k")))
        val run = Window.partitionBy("__r").orderBy(col("__v"), col("__id"))
        val all = Window.partitionBy("__r")
        inflated
          .withColumn("__cum", sum("__k").over(run))
          .withColumn("__tot", sum("__k").over(all))
          .where(col("__tot") > 0 &&
            col("__cum") * lit(2) >= col("__tot") * lit(1))
          .groupBy("__r")
          .agg(min("__v").as("__q"), max("__tot").as("__t"))
      }),
      "bq_full" -> (() => graft.operators.Sampling
        .poissonBootstrapQuantile(orders(), "o_orderkey", "o_totalprice",
          qNum = 1, qDen = 2)),
      "bci_full" -> (() => graft.operators.Sampling
        .poissonBootstrap(orders(), "o_orderkey", "o_totalprice", 64)),
      "w_sort_only" -> (() => draws()
        .select(col("__r"), col("__id"), col("__v"), col("__k"))
        .repartition(col("__r"))
        .sortWithinPartitions(col("__v"), col("__id"))),
      "w_cum_only" -> (() => {
        val run = Window.partitionBy("__r").orderBy(col("__v"), col("__id"))
        draws().select(col("__r"), col("__id"), col("__v"), col("__k"))
          .withColumn("__cum", sum("__k").over(run))
      }),
      "w_cum_long" -> (() => {
        // long cents instead of decimal through the sort+window
        val run = Window.partitionBy("__r").orderBy(col("__vl"), col("__id"))
        draws()
          .select(col("__r"), col("__id"),
            (col("__v") * 100).cast("long").as("__vl"), col("__k"))
          .withColumn("__cum", sum("__k").over(run))
      }),
      "w_both_long" -> (() => {
        val run = Window.partitionBy("__r").orderBy(col("__vl"), col("__id"))
        val all = Window.partitionBy("__r")
        draws()
          .select(col("__r"), col("__id"),
            (col("__v") * 100).cast("long").as("__vl"), col("__k"))
          .withColumn("__cum", sum("__k").over(run))
          .withColumn("__tot", sum("__k").over(all))
          .where(col("__tot") > 0 &&
            col("__cum") * lit(2) >= col("__tot") * lit(1))
          .groupBy("__r")
          .agg(min("__vl").as("__q"), max("__tot").as("__t"))
      })
    )
  }
}
