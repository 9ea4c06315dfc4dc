package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Keywords
import graft.sources.TextIndex

/** The inverted text index: BM25 served from term-partitioned postings
  * must be ROW-IDENTICAL to the corpus-scan path (same tokenizer, same
  * score tree, same rounding/tie-break), incremental appends must equal
  * the one-shot build, the serve must prune to the query terms'
  * partitions, and maintenance must be invisible to results.
  */
class TextIndexSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // deterministic corpus: a small vocabulary so terms repeat across docs
  // (df > 1), doc lengths vary (the length norm matters), two zero-token
  // docs (avgdl must average over them), and one doc of only-whitespace
  private val vocab = Vector("hash", "join", "vector", "scan", "sort",
    "merge", "spill", "page", "codec", "probe")
  private def docText(i: Long): String =
    if (i % 17 == 0) ""
    else if (i % 13 == 0) "   "
    else (0 until (3 + (i % 9)).toInt)
      .map(j => vocab(((i * 7 + j * j) % vocab.size).toInt))
      .mkString(" ")
  private def corpus(n: Long): DataFrame =
    (1L to n).map(i => (i, docText(i))).toDF("doc_id", "text")

  private def newCfg(parts: Int = 8): TextIndex.Cfg = TextIndex.Cfg(
    Files.createTempDirectory("text_index").resolve("ti").toString,
    partitions = parts)

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.as[(Long, Double)].collect().toSeq

  test("index-backed BM25 equals the corpus-scan path row-for-row: " +
      "multi-term, single-term, partially-missing and all-missing " +
      "queries, at cuts that split score ties") {
    val docs = corpus(60)
    val cfg = newCfg()
    TextIndex.writeIndex(docs, "doc_id", "text", cfg)
    val queries = Seq(
      Seq("hash", "join", "vector"),
      Seq("spill"),
      Seq("codec", "nosuchterm"),
      Seq("HASH", "hash", "Join"), // case folding + duplicate terms
      Seq("absent", "alsoabsent"))
    for (q <- queries; k <- Seq(5, 17)) {
      val scan = rows(Keywords.bm25TopK(docs, "doc_id", "text", q, k))
      val idx = rows(TextIndex.bm25TopK(spark, cfg, "doc_id", q, k))
      assert(idx === scan, s"query=$q k=$k")
    }
    assert(rows(TextIndex.bm25TopK(spark, cfg, "doc_id",
      Seq("absent"), 5)).isEmpty)
  }

  test("incremental appends equal the one-shot build, and compaction " +
      "(postings leaves + stats row-merge) changes no served row") {
    val docs = corpus(60)
    val oneShot = newCfg()
    TextIndex.writeIndex(docs, "doc_id", "text", oneShot)
    val incr = newCfg()
    (0 until 3).foreach { b =>
      TextIndex.appendBatch(docs.filter(pmod(col("doc_id"), lit(3)) === b),
        "doc_id", "text", incr)
    }
    val q = Seq("hash", "join", "vector")
    val expect = rows(TextIndex.bm25TopK(spark, oneShot, "doc_id", q, 10))
    assert(rows(TextIndex.bm25TopK(spark, incr, "doc_id", q, 10))
      === expect)
    // stats really is one row per append before the merge
    assert(spark.read.parquet(s"${incr.indexPath}/stats").count() === 3L)
    TextIndex.compact(spark, incr)
    assert(spark.read.parquet(s"${incr.indexPath}/stats").count() === 1L)
    assert(rows(TextIndex.bm25TopK(spark, incr, "doc_id", q, 10))
      === expect)
  }

  test("conjunctive serve: only all-terms docs rank, their scores equal " +
      "the disjunctive serve's, and an absent term empties the result") {
    val docs = corpus(60)
    val cfg = newCfg()
    TextIndex.writeIndex(docs, "doc_id", "text", cfg)
    val q = Seq("hash", "join")
    val and = rows(TextIndex.bm25TopKAll(spark, cfg, "doc_id", q, 60))
    val or = rows(TextIndex.bm25TopK(spark, cfg, "doc_id", q, 60)).toMap
    assert(and.nonEmpty && and.size < or.size,
      "the fixture must have both all-terms and some-terms docs")
    // every AND hit scores exactly its OR score (same formula, same cut)
    assert(and.forall { case (id, s) => or(id) == s })
    // AND membership == docs whose token set covers the query
    val covered = docs.collect().filter { r =>
      val toks = r.getString(1).toLowerCase.split("\\s+")
        .filter(_.nonEmpty).toSet
      q.forall(toks.contains)
    }.map(_.getLong(0)).toSet
    assert(and.map(_._1).toSet === covered)
    assert(rows(TextIndex.bm25TopKAll(spark, cfg, "doc_id",
      Seq("hash", "nosuchterm"), 10)).isEmpty)
  }

  test("batched serve equals the batched scan path AND a loop of " +
      "single-query serves — shared-term queries, disjoint queries, " +
      "queries with missing terms") {
    val docs = corpus(60)
    val cfg = newCfg()
    TextIndex.writeIndex(docs, "doc_id", "text", cfg)
    val qdf = Seq((1L, Seq("hash", "join")), (2L, Seq("vector", "scan")),
      (3L, Seq("codec", "nosuchterm")), (4L, Seq("onlymissing")))
      .toDF("query_id", "terms")
    val got = TextIndex.bm25BatchTopK(spark, cfg, "doc_id", qdf,
        "query_id", "terms", k = 7)
      .as[(Long, Long, Double)].collect().toSet
    val scan = graft.operators.Keywords.bm25BatchTopK(docs, "doc_id",
        "text", qdf, "query_id", "terms", k = 7)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === scan)
    val looped = Seq(1L -> Seq("hash", "join"), 2L -> Seq("vector", "scan"),
        3L -> Seq("codec", "nosuchterm"))
      .flatMap { case (q, ts) =>
        rows(TextIndex.bm25TopK(spark, cfg, "doc_id", ts, 7))
          .map { case (id, s) => (q, id, s) }
      }.toSet
    assert(got === looped)
  }

  test("the serve prunes the postings scan to the query terms' tp " +
      "partitions (static PartitionFilters on the plan)") {
    val cfg = newCfg(parts = 8)
    TextIndex.writeIndex(corpus(60), "doc_id", "text", cfg)
    val served = TextIndex.bm25TopK(spark, cfg, "doc_id",
      Seq("hash"), 5)
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tp".r.findFirstIn(plan).nonEmpty,
      s"postings read must prune on tp:\n$plan")
    // and the pruned read really covers the right rows: served equality
    // (checked above at scale) plus a direct posting check here
    val postings = spark.read.parquet(s"${cfg.indexPath}/postings")
    val hashDf = postings.where(col("term") === "hash").count()
    assert(hashDf > 0L)
  }

  test("appendBatch is ONE pass over the batch: exactly 2 actions run " +
      "(the postings write carrying the stats scalars as observe " +
      "metrics, plus the 1-row stats write) — the old shape re-ran the " +
      "tokenize for sum_len and a third job for n_docs") {
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      // drain any straggler events from earlier tests before counting
      Thread.sleep(1000)
      actions.set(0)
      TextIndex.appendBatch(corpus(60), "doc_id", "text", newCfg())
      // the listener bus is async: wait for the count to stabilize
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 4 && waited < 10000) {
        Thread.sleep(250); waited += 250
        if (actions.get() == last) stable += 1 else { stable = 0 }
        last = actions.get()
      }
      assert(actions.get() === 2,
        s"appendBatch must run exactly 2 actions, ran ${actions.get()}")
    } finally spark.listenerManager.unregister(l)
  }

  test("phrase serve from a positional index equals a brute-force token " +
      "adjacency scan — membership, occurrence counts, and BM25 scores " +
      "(= the conjunctive serve's, same formula) — including a " +
      "repeated-term phrase; non-positional index fails loudly") {
    val docs = corpus(80)
    val cfg = TextIndex.Cfg(
      Files.createTempDirectory("text_index_pos").resolve("ti").toString,
      partitions = 8, positional = true)
    TextIndex.writeIndex(docs, "doc_id", "text", cfg)
    // brute-force expected: token-sequence adjacency per doc
    val toks: Map[Long, Array[String]] = docs.collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").filter(_.nonEmpty))
      .toMap
    def expectOcc(phrase: Seq[String]): Map[Long, Long] = toks.flatMap {
      case (id, ts) =>
        val n = (0 to ts.length - phrase.length)
          .count(s => phrase.indices.forall(i => ts(s + i) == phrase(i)))
        if (n > 0 && phrase.nonEmpty && ts.length >= phrase.length)
          Some(id -> n.toLong)
        else None
    }
    for (phrase <- Seq(Seq("hash", "join"), Seq("join", "vector", "scan"),
        Seq("hash", "hash"), Seq("spill"))) {
      val got = TextIndex.phraseTopK(spark, cfg, "doc_id", phrase, k = 100)
        .as[(Long, Double, Long)].collect()
      val exp = expectOcc(phrase)
      assert(got.map(r => r._1 -> r._3).toMap === exp, s"phrase=$phrase")
      // scores equal the conjunctive serve's for the same distinct terms
      val and = rows(TextIndex.bm25TopKAll(spark, cfg, "doc_id",
        phrase.distinct, 100)).toMap
      assert(got.forall { case (id, s, _) => and(id) == s },
        s"phrase=$phrase scores must match the conjunctive serve")
    }
    assert(TextIndex.phraseTopK(spark, cfg, "doc_id",
      Seq("hash", "nosuchterm"), 10).isEmpty)
    // membership union across phrases (the decontamination serve)
    val members = TextIndex.phraseMembers(spark, cfg, "doc_id",
        Seq(Seq("hash", "join"), Seq("hash", "hash")))
      .as[Long].collect().toSet
    assert(members === (expectOcc(Seq("hash", "join")).keySet ++
      expectOcc(Seq("hash", "hash")).keySet))
    // a bare index refuses phrase serves instead of answering wrong
    val bare = newCfg()
    TextIndex.writeIndex(docs, "doc_id", "text", bare)
    val e = intercept[IllegalArgumentException] {
      TextIndex.phraseTopK(spark, bare, "doc_id", Seq("hash", "join"), 5)
    }
    assert(e.getMessage.contains("positional"))
    // the positional flag is pinned like P
    intercept[IllegalArgumentException] {
      TextIndex.appendBatch(corpus(5), "doc_id", "text",
        bare.copy(positional = true))
    }
    // BM25 faces on the positional index still equal the scan path
    // (positions are invisible to them)
    val q = Seq("hash", "join", "vector")
    assert(rows(TextIndex.bm25TopK(spark, cfg, "doc_id", q, 10))
      === rows(Keywords.bm25TopK(docs, "doc_id", "text", q, 10)))
    // ...and invisible at the STORAGE layer too: the BM25 serve's scan
    // must not read the positions column (parquet column pruning), while
    // the phrase serve does
    val bmPlan = TextIndex.bm25TopK(spark, cfg, "doc_id", q, 10)
      .queryExecution.executedPlan.toString
    assert(!bmPlan.contains("positions"),
      s"BM25 faces must not read positions:\n$bmPlan")
    assert(TextIndex.phraseTopK(spark, cfg, "doc_id",
        Seq("hash", "join"), 10)
      .queryExecution.executedPlan.toString.contains("positions"))
  }

  test("proximity serve (NEAR): membership equals a brute sliding-window " +
      "scan at several widths and term counts; scores equal the " +
      "conjunctive serve's; degenerate windows behave") {
    val docs = corpus(80)
    val cfg = TextIndex.Cfg(
      Files.createTempDirectory("text_index_near").resolve("ti").toString,
      partitions = 8, positional = true)
    TextIndex.writeIndex(docs, "doc_id", "text", cfg)
    val toks: Map[Long, Array[String]] = docs.collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").filter(_.nonEmpty))
      .toMap
    def nearBrute(ts: Array[String], terms: Seq[String], w: Int): Boolean =
      ts.indices.exists { s =>
        terms.forall(t =>
          (s until math.min(s + w, ts.length)).exists(i => ts(i) == t))
      }
    for (w <- Seq(2, 3, 5);
         terms <- Seq(Seq("hash", "join"), Seq("hash", "join", "vector"))) {
      val got = TextIndex.proximityTopK(spark, cfg, "doc_id", terms, w,
          k = 200)
        .as[(Long, Double)].collect()
      val expect = toks.filter { case (_, ts) => nearBrute(ts, terms, w) }
        .keySet
      assert(got.map(_._1).toSet === expect, s"terms=$terms w=$w")
      val and = rows(TextIndex.bm25TopKAll(spark, cfg, "doc_id", terms,
        200)).toMap
      assert(got.forall { case (id, sc) => and(id) == sc },
        s"terms=$terms w=$w scores must match the conjunctive serve")
    }
    // two distinct terms cannot share a 1-token window
    assert(TextIndex.proximityTopK(spark, cfg, "doc_id",
      Seq("hash", "join"), window = 1, k = 10).isEmpty)
    // a single term at window 1 is plain presence — equals the BM25 face
    assert(TextIndex.proximityTopK(spark, cfg, "doc_id", Seq("spill"),
        window = 1, k = 10).as[(Long, Double)].collect().toSeq
      === rows(TextIndex.bm25TopK(spark, cfg, "doc_id", Seq("spill"), 10)))
    intercept[IllegalArgumentException] {
      TextIndex.proximityTopK(spark, cfg, "doc_id", Seq("hash"),
        window = 0, k = 5)
    }
  }

  test("snippet extraction: the densest query-term window per top-k " +
      "doc equals a brute argmax (most hits, earliest on ties), the " +
      "slice matches the token stream, and ranking equals the BM25 " +
      "serve — works on a bare (non-positional) index") {
    val docs = corpus(80)
    val cfg = newCfg() // deliberately non-positional: snippets retokenize
    TextIndex.writeIndex(docs, "doc_id", "text", cfg)
    val q = Seq("hash", "join", "vector")
    val w = 6
    val got = TextIndex.snippetTopK(spark, cfg, docs, "doc_id", "text",
        q, window = w, k = 15)
      .as[(Long, Double, Long, String)].collect()
      .sortBy(_._1)
    val top = rows(TextIndex.bm25TopK(spark, cfg, "doc_id", q, 15)).toMap
    assert(got.map(r => r._1 -> r._2).toMap === top)
    val toks: Map[Long, Array[String]] = docs.collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").filter(_.nonEmpty))
      .toMap
    got.foreach { case (id, _, start, snippet) =>
      val ts = toks(id)
      val hits = ts.indices.filter(i => q.contains(ts(i)))
      def cnt(s: Int) = hits.count(h => h >= s && h < s + w)
      val bestCnt = hits.map(cnt).max
      val bestStart = hits.filter(h => cnt(h) == bestCnt).min
      assert(start === bestStart.toLong, s"doc $id window start")
      assert(snippet ===
        ts.slice(bestStart, math.min(bestStart + w, ts.length))
          .mkString(" "), s"doc $id snippet")
    }
    intercept[IllegalArgumentException] {
      TextIndex.snippetTopK(spark, cfg, docs, "doc_id", "text", q,
        window = 0, k = 5)
    }
  }

  test("retract excises docs from postings + stats: serves equal a " +
      "fresh index over the survivors, untouched tp partitions keep " +
      "their files byte-for-byte, and a replayed retract is exactly-once " +
      "(ledger) with healStats as independent auditor") {
    val docs = corpus(60)
    val cfg = newCfg(parts = 8)
    TextIndex.writeIndex(docs, "doc_id", "text", cfg)
    // doc 17 is zero-token (must still decrement n_docs); 5 and 10 carry
    // postings
    val goneIds = Seq(5L, 10L, 17L)
    val gone = docs.where(col("doc_id").isin(goneIds: _*))
    val survivors = docs.where(!col("doc_id").isin(goneIds: _*))
    // record the files of partitions the retracted docs' terms do NOT
    // touch — they must not be rewritten
    val touched = gone
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .where(length(col("t")) > 0)
      .select(pmod(xxhash64(col("t")), lit(8)).cast("int"))
      .distinct().as[Int].collect().toSet
    def leafFiles(tp: Int): Set[(String, Long)] = {
      val d = new java.io.File(s"${cfg.indexPath}/postings/tp=$tp")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val untouched = (0 until 8).filterNot(touched)
    assert(untouched.nonEmpty, "fixture must leave some partitions alone")
    val before = untouched.map(v => v -> leafFiles(v)).toMap
    val (nGone, _) = TextIndex.retract(spark, cfg, gone, "doc_id", "text")
    assert(nGone === 3L)
    untouched.foreach(v => assert(leafFiles(v) === before(v),
      s"tp=$v was rewritten but holds none of the retracted terms"))
    // serves and health stats equal a fresh index over the survivors
    val fresh = newCfg(parts = 8)
    TextIndex.writeIndex(survivors, "doc_id", "text", fresh)
    for (q <- Seq(Seq("hash", "join", "vector"), Seq("spill"))) {
      assert(rows(TextIndex.bm25TopK(spark, cfg, "doc_id", q, 20))
        === rows(TextIndex.bm25TopK(spark, fresh, "doc_id", q, 20)))
    }
    def statsRow(c: TextIndex.Cfg) = TextIndex.stats(spark, c)
      .as[(Long, Long, Double, Long, Long)].collect().head
    assert(statsRow(cfg) === statsRow(fresh))
    // re-admission is clean: the retracted docs append again and serve
    // (their pending ledger compensations fold away atomically)
    TextIndex.appendBatch(gone, "doc_id", "text", cfg)
    assert(statsRow(cfg)._1 === 60L)
    // EXACTLY-ONCE across re-runs: a replayed retract (the orchestrator
    // crash-before-corpus-rewrite case) is a no-op — the r17 design
    // double-subtracted n_docs here and needed healStats; the ledger
    // skips already-compensated ids, so stats stay exact unhealed
    TextIndex.retract(spark, cfg, gone, "doc_id", "text")
    assert(TextIndex.retract(spark, cfg, gone, "doc_id", "text")
      === ((0L, 0L))) // replayed — skipped via the ledger
    assert(statsRow(cfg) === statsRow(fresh),
      "a replayed retract must not double-subtract")
    // healStats remains the independent auditor (and clears the ledger
    // in the same atomic swap)
    TextIndex.healStats(spark, cfg, survivors)
    assert(statsRow(cfg) === statsRow(fresh))
  }

  test("the retraction ledger is read by its part files: a retract, a " +
      "BM25 serve, a replayed retract and a re-admission log no " +
      "'All paths were ignored' for the dot-prefixed ledger root") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.LoggerConfig
    val ignored = new java.util.concurrent.atomic.AtomicInteger(0)
    val probe = new AbstractAppender("ledger-read-probe", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .contains("All paths were ignored")) ignored.incrementAndGet()
    }
    probe.start()
    // a read rooted at a dot-prefixed directory: the warning counted
    def hiddenRootRead(): Unit = {
      val d = Files.createTempDirectory("ledger_probe").resolve(".h").toString
      Seq(1L).toDF("x").write.parquet(d)
      assert(spark.read.parquet(d).count() === 1L)
    }
    // Spark swaps in its default logging configuration on first use,
    // which would drop a probe attached earlier
    hiddenRootRead()
    // the DataSource logger at WARN with the probe attached, whatever
    // level the session's logging configuration gives the root
    val name = "org.apache.spark.sql.execution.datasources.DataSource"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(name, Level.WARN, true)
    lc.addAppender(probe, null, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
    try {
      hiddenRootRead()
      assert(ignored.getAndSet(0) === 1, "the probe must see the warning")
      val docs = corpus(40)
      val cfg = newCfg(parts = 4)
      TextIndex.writeIndex(docs, "doc_id", "text", cfg)
      val gone = docs.where(col("doc_id").isin(5L, 10L))
      assert(TextIndex.retract(spark, cfg, gone, "doc_id", "text")._1 === 2L)
      assert(TextIndex.bm25TopK(spark, cfg, "doc_id", Seq("hash", "join"),
        10).count() > 0)
      assert(TextIndex.retract(spark, cfg, gone, "doc_id", "text")
        === ((0L, 0L)), "the replay is skipped via the ledger")
      TextIndex.appendBatch(gone, "doc_id", "text", cfg)
      assert(TextIndex.stats(spark, cfg).as[(Long, Long, Double, Long, Long)]
        .collect().head._1 === 40L)
      assert(ignored.get() === 0,
        "a ledger read went through the ignored hidden root")
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      probe.stop()
    }
  }

  test("forward-store snippet fetch: snippetTopKStored equals " +
      "snippetTopK row-for-row, the text read prunes to the winners' " +
      "kb buckets (PartitionFilters), and the store's own retraction " +
      "rewrites only the keys' buckets") {
    import graft.sources.Bucketing
    val docs = corpus(80)
    val cfg = newCfg(parts = 8)
    TextIndex.writeIndex(docs, "doc_id", "text", cfg)
    val store = Files.createTempDirectory("fwd_store")
      .resolve("fs").toString
    Bucketing.writeKeyBucketed(docs.select("doc_id", "text"), store,
      "doc_id", partitions = 8)
    val q = Seq("hash", "join", "vector")
    def snip(df: DataFrame): Seq[(Long, Double, Long, String)] =
      df.as[(Long, Double, Long, String)].collect().sortBy(_._1).toSeq
    assert(
      snip(TextIndex.snippetTopKStored(spark, cfg, store, "doc_id",
        "text", q, window = 6, k = 10)) ===
      snip(TextIndex.snippetTopK(spark, cfg, docs, "doc_id", "text", q,
        window = 6, k = 10)))
    // the point read prunes statically on the keys' buckets
    val read = Bucketing.readKeys(spark, store, "doc_id",
      Seq(1L, 2L, 3L))
    val plan = read.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*kb".r.findFirstIn(plan).nonEmpty,
      s"forward-store read must prune on kb:\n$plan")
    assert(read.select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L, 3L))
    // store retraction: only the keys' buckets rewrite
    def leafFiles(v: Int): Set[(String, Long)] = {
      val d = new java.io.File(store, s"kb=$v")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val touchedKb = spark.read.parquet(store)
      .where(col("doc_id") === 2L)
      .select("kb").as[Int].collect().toSet
    val untouched = (0 until 8).filterNot(touchedKb).filter(v =>
      new java.io.File(store, s"kb=$v").exists())
    val before = untouched.map(v => v -> leafFiles(v)).toMap
    Bucketing.retractKeyBucketed(spark, store,
      Seq(2L).toDF("doc_id"), "doc_id", "doc_id")
    untouched.foreach(v => assert(leafFiles(v) === before(v),
      s"kb=$v holds no retracted key but was rewritten"))
    assert(Bucketing.readKeys(spark, store, "doc_id", Seq(1L, 2L, 3L))
      .select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
    // the tombstone overlay is honored by the point fetch
    graft.sources.Tombstones.append(store, Seq(3L).toDF("doc_id"),
      "doc_id")
    assert(Bucketing.readKeys(spark, store, "doc_id", Seq(1L, 2L, 3L))
      .select("doc_id").as[Long].collect().toSet === Set(1L))
  }

  test("layout pin: a partition-count drift fails loudly; reserved " +
      "output column collision fails loudly") {
    val cfg = newCfg(parts = 8)
    TextIndex.writeIndex(corpus(20), "doc_id", "text", cfg)
    val drift = intercept[IllegalArgumentException] {
      TextIndex.appendBatch(corpus(5), "doc_id", "text",
        cfg.copy(partitions = 16))
    }
    assert(drift.getMessage.contains("pinned"))
    intercept[IllegalArgumentException] {
      TextIndex.bm25TopK(spark, cfg, "bm25", Seq("hash"), 5)
    }
    intercept[IllegalArgumentException] {
      TextIndex.bm25TopK(spark, cfg, "doc_id", Seq.empty, 5)
    }
  }
}
