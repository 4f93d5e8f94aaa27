package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.TxTable
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** [[IncrementalIndex]]: the maintained BM25 postings / IVF
  * assignment state must equal the from-scratch build at every
  * corpus version (the IVM theorem on index rows), across inserts,
  * updates (delete+insert feeds), key deletes, and compactions —
  * and the apply must be exactly-once under crash replay, including
  * the torn half-applied state (retract committed, append not). */
class IncrementalIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(
      Paths.get(System.getProperty("java.io.tmpdir")), p).toString

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def postingsOf(index: String): Set[(Long, String, Long, Long)] =
    TxTable.read(spark, index).select("doc_id", "term", "tf", "dl")
      .as[(Long, String, Long, Long)].collect().toSet

  private def rebuilt(corpus: String): Set[(Long, String, Long, Long)] =
    Bm25.postings(TxTable.read(spark, corpus).select("doc_id", "text"))
      .as[(Long, String, Long, Long)].collect().toSet

  test("maintained postings equal the rebuild at every version of a " +
      "create/append/merge/delete/compact lifecycle") {
    val (corpus, index) = (tmp("iidx_c_"), tmp("iidx_i_"))
    assert(TxTable.create(docs(1L -> "a b a", 2L -> "b c"), corpus))
    TxTable.append(docs(3L -> "c c d"), corpus)
    TxTable.merge(spark, corpus,
      docs(2L -> "b c UPDATED", 4L -> "e"))            // v3: update+insert
    assert(TxTable.delete(spark, corpus, col("doc_id") === 1L) == 4L)
    assert(TxTable.compact(spark, corpus).contains(5L))
    IncrementalIndex.initBm25(spark, index)
    for (v <- 1L to 5L) {
      IncrementalIndex.applyBm25(spark, corpus, index, v)
      val expected = Bm25.postings(
        TxTable.read(spark, corpus, Some(v)).select("doc_id", "text"))
        .as[(Long, String, Long, Long)].collect().toSet
      assert(postingsOf(index) == expected,
        s"maintained != rebuilt after applying corpus v$v")
    }
    // updated doc 2 must carry the NEW text's postings only
    assert(postingsOf(index).filter(_._1 == 2L).map(_._2) ==
      Set("b", "c", "UPDATED"))
  }

  test("a compaction transition folds as a ZERO-JOB metadata ledger " +
      "advance (manifest-op dispatch, no feed scan), with or without " +
      "a precomputed feed, and content stays the rebuild") {
    val (corpus, index, index2) =
      (tmp("iicmp_c_"), tmp("iicmp_i_"), tmp("iicmp_j_"))
    assert(TxTable.create(docs(1L -> "a b", 2L -> "b c"), corpus))
    assert(TxTable.delete(spark, corpus, col("doc_id") === 1L) == 2L)
    assert(TxTable.compact(spark, corpus).contains(3L))
    assert(TxTable.compactionOnlyRange(corpus, 2L, 3L))
    assert(!TxTable.compactionOnlyRange(corpus, 1L, 2L),
      "a delete transition must not read as compaction-only")
    assert(!TxTable.compactionOnlyRange(corpus, 1L, 3L),
      "a mixed delete+compact range must not read as compaction-only")
    assert(!TxTable.compactionOnlyRange(corpus, 3L, 3L),
      "an empty range attests nothing")
    IncrementalIndex.initBm25(spark, index)
    IncrementalIndex.initBm25(spark, index2)
    for (v <- 1L to 2L) {
      IncrementalIndex.applyBm25(spark, corpus, index, v)
      IncrementalIndex.applyBm25(spark, corpus, index2, v,
        feed = Some(TxTable.changes(spark, corpus, v - 1, v)
          .localCheckpoint(true)))
    }
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // earlier jobs' events must not reach the new listener
    GraftColumnBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val vBefore = TxTable.latestVersion(index).get
      // feed-less (the streaming maintainer's shape) and fed (the
      // applyMany shape): both must advance the ledger without a job
      IncrementalIndex.applyBm25(spark, corpus, index, 3L)
      IncrementalIndex.applyBm25(spark, corpus, index2, 3L,
        feed = Some(TxTable.changes(spark, corpus, 2L, 3L)))
      GraftColumnBridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0L,
        s"compaction fold must be metadata-only, ran ${jobs.get()} jobs")
      assert(TxTable.latestVersion(index).contains(vBefore + 1L),
        "the index must still gain exactly one version per source version")
      assert(TxTable.lastCommittedBatch(index, "graft_bm25_index")
        .contains(3L))
      assert(TxTable.lastCommittedBatch(index2, "graft_bm25_index")
        .contains(3L))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(postingsOf(index) == rebuilt(corpus))
    assert(postingsOf(index2) == rebuilt(corpus))
  }

  test("apply is exactly-once: full replay no-ops; a torn replay " +
      "(retract landed, append lost) completes without double rows") {
    val (corpus, index) = (tmp("iidx_c2_"), tmp("iidx_i2_"))
    assert(TxTable.create(docs(1L -> "x y"), corpus))
    TxTable.append(docs(2L -> "y z"), corpus)           // v2
    IncrementalIndex.initBm25(spark, index)
    IncrementalIndex.applyBm25(spark, corpus, index, 1L)
    IncrementalIndex.applyBm25(spark, corpus, index, 2L)
    val done = postingsOf(index)
    val vDone = TxTable.latestVersion(index)
    // full replay of both transitions: ledger guard, zero new commits
    IncrementalIndex.applyBm25(spark, corpus, index, 1L)
    IncrementalIndex.applyBm25(spark, corpus, index, 2L)
    assert(postingsOf(index) == done)
    assert(TxTable.latestVersion(index) == vDone)

    // torn state for v3 (an update of doc 1): the retract commits,
    // the append "crashes" — then the replay must complete exactly
    TxTable.merge(spark, corpus, docs(1L -> "x REPLACED"))   // corpus v3
    val feed = TxTable.changes(spark, corpus, 2L, 3L)
    TxTable.deleteKeys(spark, index, feed.select("doc_id"),
      key = "doc_id")                                   // half-applied
    assert(postingsOf(index).forall(_._1 != 1L),
      "retract must have removed doc 1's postings")
    IncrementalIndex.applyBm25(spark, corpus, index, 3L) // the "replay"
    assert(postingsOf(index) == rebuilt(corpus),
      "torn replay must converge to the rebuild")
    assert(postingsOf(index).filter(_._1 == 1L).map(_._2) ==
      Set("x", "REPLACED"))
  }

  test("netted catch-up folds a whole range as ONE commit: content " +
      "equals per-version folding, the ledger jumps to the range " +
      "head, skipped-version replays no-op, and per-version " +
      "folding resumes cleanly on top") {
    val (corpus, perV, net) =
      (tmp("iinet_c_"), tmp("iinet_p_"), tmp("iinet_n_"))
    def bm25RowsOf(ins: DataFrame): DataFrame =
      Bm25.postings(ins.select("doc_id", "text"))
    // every transition shape: create, append, update+insert merge,
    // row delete, compaction
    assert(TxTable.create(docs(1L -> "a b a", 2L -> "b c"), corpus))
    TxTable.append(docs(3L -> "c c d"), corpus)               // v2
    TxTable.merge(spark, corpus,
      docs(2L -> "b c UP", 4L -> "e"))                        // v3
    assert(TxTable.delete(spark, corpus, col("doc_id") === 1L) == 4L)
    assert(TxTable.compact(spark, corpus).contains(5L))
    IncrementalIndex.initBm25(spark, perV)
    IncrementalIndex.initBm25(spark, net)
    for (v <- 1L to 5L)
      IncrementalIndex.applyBm25(spark, corpus, perV, v)
    val birth = TxTable.latestVersion(net).get
    IncrementalIndex.applyNetted(spark, corpus, net, 0L, 5L,
      "graft_bm25_index", "doc_id")(bm25RowsOf)
    assert(postingsOf(net) == postingsOf(perV),
      "netted catch-up must equal per-version folding")
    assert(postingsOf(net) == rebuilt(corpus))
    assert(TxTable.latestVersion(net).contains(birth + 1L),
      "the whole range must land as ONE index commit")
    assert(TxTable.lastCommittedBatch(net, "graft_bm25_index")
      .contains(5L), "the ledger must jump to the range head")
    // skipped intermediate versions replay as no-ops (the
    // nondecreasing-batch contract), and so does re-netting
    IncrementalIndex.applyBm25(spark, corpus, net, 3L)
    IncrementalIndex.applyNetted(spark, corpus, net, 0L, 5L,
      "graft_bm25_index", "doc_id")(bm25RowsOf)
    assert(TxTable.latestVersion(net).contains(birth + 1L))
    assert(postingsOf(net) == rebuilt(corpus))
    // per-version folding resumes on top of the netted jump
    TxTable.append(docs(6L -> "f g"), corpus)                 // v6
    IncrementalIndex.applyBm25(spark, corpus, net, 6L)
    assert(postingsOf(net) == rebuilt(corpus))

    // a MID-HISTORY netted range with retractions exercises the
    // replace path (the 0-based catch-up above rides the
    // append-only fast path — from v0 nothing can have been
    // removed): folded per-version to v2, then netted (2 -> 6]
    val mid = tmp("iinet_m_")
    IncrementalIndex.initBm25(spark, mid)
    IncrementalIndex.applyBm25(spark, corpus, mid, 1L)
    IncrementalIndex.applyBm25(spark, corpus, mid, 2L)
    val midV = TxTable.latestVersion(mid).get
    IncrementalIndex.applyNetted(spark, corpus, mid, 2L, 6L,
      "graft_bm25_index", "doc_id")(bm25RowsOf)
    assert(postingsOf(mid) == rebuilt(corpus),
      "netted range with updates/deletes must retract + append")
    assert(TxTable.latestVersion(mid).contains(midV + 1L))
    assert(TxTable.lastCommittedBatch(mid, "graft_bm25_index")
      .contains(6L))
    // a net-EMPTY netted range (compaction only) advances the
    // ledger with a metadata-only commit
    assert(TxTable.compact(spark, corpus).contains(7L))
    val before = postingsOf(mid)
    IncrementalIndex.applyNetted(spark, corpus, mid, 6L, 7L,
      "graft_bm25_index", "doc_id")(bm25RowsOf)
    assert(postingsOf(mid) == before)
    assert(TxTable.lastCommittedBatch(mid, "graft_bm25_index")
      .contains(7L))
    // applyManyNetted: several indexes catch up off ONE netted feed
    val (sh, mh) = (tmp("iinet_sh_"), tmp("iinet_mh_"))
    IncrementalIndex.initSimhash(spark, sh)
    IncrementalIndex.initMinhash(spark, mh)
    IncrementalIndex.applyManyNetted(spark, corpus, 0L, 7L, Seq(
      (sh, "graft_simhash_index", "doc_id",
        (ins: DataFrame) => ApproxDedup.simhashOf(
          ins.select("doc_id", "text"))),
      (mh, "graft_minhash_index", "doc_id",
        (ins: DataFrame) => IncrementalIndex.minhashBandRows(
          ins.select("doc_id", "text")))))
    val head = TxTable.read(spark, corpus).select("doc_id", "text")
    assert(TxTable.read(spark, sh).select("doc_id", "simhash")
      .as[(Long, Long)].collect().toSet ==
      ApproxDedup.simhashOf(head).as[(Long, Long)].collect().toSet)
    assert(TxTable.read(spark, mh)
      .select("doc_id", "band_idx", "band_hash")
      .as[(Long, Int, Long)].collect().toSet ==
      IncrementalIndex.minhashBandRows(head)
        .select("doc_id", "band_idx", "band_hash")
        .as[(Long, Int, Long)].collect().toSet)
  }

  test("bm25Index rehydrates scoring state from the maintained " +
      "table: scores equal a buildIndex over the same corpus") {
    val (corpus, index) = (tmp("iidx_c3_"), tmp("iidx_i3_"))
    assert(TxTable.create(
      docs(1L -> "apple banana apple", 2L -> "banana cherry",
        3L -> "cherry apple date"), corpus))
    IncrementalIndex.initBm25(spark, index)
    IncrementalIndex.applyBm25(spark, corpus, index, 1L)
    val q = Seq((10L, "apple"), (10L, "cherry"))
      .toDF("query_id", "term")
    val fromMaintained = Bm25.score(q,
      IncrementalIndex.bm25Index(spark, index))
      .as[(Long, Long, Double)].collect().toSet
    val fromScratch = Bm25.score(q, Bm25.buildIndex(
      TxTable.read(spark, corpus).select("doc_id", "text")))
      .as[(Long, Long, Double)].collect().toSet
    assert(fromMaintained == fromScratch)
    assert(fromMaintained.nonEmpty)
  }

  test("SimHash fingerprint maintenance equals the from-scratch " +
      "fingerprints across updates and deletes") {
    val (corpus, index) = (tmp("iish_c_"), tmp("iish_i_"))
    assert(TxTable.create(
      docs(1L -> "alpha beta", 2L -> "gamma delta"), corpus))
    TxTable.merge(spark, corpus, docs(1L -> "alpha CHANGED", 3L -> "eps"))
    assert(TxTable.delete(spark, corpus, col("doc_id") === 2L) == 3L)
    IncrementalIndex.initSimhash(spark, index)
    for (v <- 1L to 3L)
      IncrementalIndex.applySimhash(spark, corpus, index, v)
    val maintained = TxTable.read(spark, index)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toSet
    val expected = ApproxDedup.simhashOf(
      TxTable.read(spark, corpus).select("doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    assert(maintained == expected)
    assert(maintained.map(_._1) == Set(1L, 3L))
  }

  test("IVF assignment maintenance equals pinned-centroid rebuild " +
      "across append / key delete / compaction") {
    val (corpus, index, cents) =
      (tmp("iivf_c_"), tmp("iivf_i_"), tmp("iivf_k_"))
    def vecs(ids: Long*): DataFrame =
      ids.map(i => (i, Seq.tabulate(4)(j =>
        math.sin(i * 3.7 + j).toFloat))).toDF("vec_id", "embedding")
    assert(TxTable.create(vecs(0L, 1L, 2L, 3L), corpus,
      bucketKey = "vec_id"))
    IncrementalIndex.initIvf(spark, corpus, index, cents,
      nCells = 2, kmeansIters = 1)
    TxTable.append(vecs(4L, 5L, 6L), corpus, bucketKey = "vec_id") // v2
    assert(TxTable.deleteKeys(spark, corpus,
      Seq(1L, 4L).toDF("vec_id"), key = "vec_id",
      bucketKey = "vec_id") == 3L)
    assert(TxTable.compact(spark, corpus, bucketKey = "vec_id")
      .contains(4L))
    val quant = IncrementalIndex.loadCentroids(spark, cents)
    assert(quant.length == 2)
    for (v <- 1L to 4L)
      IncrementalIndex.applyIvf(spark, corpus, index, quant, v)
    val maintained = TxTable.read(spark, index).select("vec_id", "cell")
      .as[(Long, Int)].collect().toSet
    val expected = AnnSearch.assignCells(
      TxTable.read(spark, corpus), quant)
      .select("vec_id", "cell").as[(Long, Int)].collect().toSet
    assert(maintained == expected)
    assert(maintained.map(_._1) == Set(0L, 2L, 3L, 5L, 6L))

    // search served from the maintained index == ivfTopK over the
    // same content and pinned quantizer, neighbor for neighbor
    val fromIndex = IncrementalIndex.searchIvf(spark, corpus, index,
      cents, queryPred = col("vec_id") < 3L, k = 3, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect().toSeq
    val direct = AnnSearch.ivfTopK(TxTable.read(spark, corpus), k = 3,
      maxId = Long.MaxValue, nProbe = 2, index = Some(quant))
      .filter(col("a_id") < 3L)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(fromIndex == direct, "maintained-index search must equal " +
      s"the direct IVF search: $fromIndex vs $direct")
    assert(fromIndex.nonEmpty)
  }

  private def vecs64(ids: Long*): DataFrame =
    ids.map(i => (i, i % 3, Seq.tabulate(64)(j =>
      math.sin(i * 3.7 + j * 0.91).toFloat)))
      .toDF("vec_id", "label", "embedding")

  test("IVFADC code-table maintenance equals the pinned-artifact " +
      "re-encode across append / key delete / compaction, and " +
      "searchIvfPq equals ivfPqTopK over the same content") {
    val (corpus, index, cents, books) =
      (tmp("iipq_c_"), tmp("iipq_i_"), tmp("iipq_k_"), tmp("iipq_b_"))
    assert(TxTable.create(
      vecs64(0L to 15L: _*).select("vec_id", "embedding"), corpus,
      bucketKey = "vec_id"))
    IncrementalIndex.initPq(spark, corpus, index, cents, books,
      nCells = 2, kmeansIters = 1, m = 8, codesPerSub = 4, dim = 64,
      pqIters = 1)
    val idx = IncrementalIndex.loadPqIndex(spark, cents, books)
    assert(idx.centroids.length == 2 && idx.books.length == 8 &&
      idx.books.head.length == 4)
    TxTable.append(vecs64(16L to 23L: _*)
      .select("vec_id", "embedding"), corpus, bucketKey = "vec_id")
    assert(TxTable.deleteKeys(spark, corpus,
      Seq(2L, 17L).toDF("vec_id"), key = "vec_id",
      bucketKey = "vec_id") == 3L)
    assert(TxTable.compact(spark, corpus, bucketKey = "vec_id")
      .contains(4L))
    for (v <- 1L to 4L)
      IncrementalIndex.applyPq(spark, corpus, index, idx, v,
        m = 8, dim = 64)
    val maintained = TxTable.read(spark, index)
      .select("vec_id", "cell", "codes")
      .as[(Long, Int, Seq[Byte])].collect().toSet
    val expected = AnnSearch.encodeIvfPq(
      TxTable.read(spark, corpus), idx, m = 8, dim = 64)
      .as[(Long, Int, Seq[Byte])].collect().toSet
    assert(maintained == expected)
    assert(!maintained.exists(r => r._1 == 2L || r._1 == 17L))

    val fromIndex = IncrementalIndex.searchIvfPq(spark, corpus, index,
      idx, queryPred = col("vec_id") < 4L, k = 3, nProbe = 2,
      rerank = 6, m = 8, dim = 64)
      .as[(Long, Long, Double, Int)].collect().toSeq
    val direct = AnnSearch.ivfPqTopK(TxTable.read(spark, corpus),
      k = 3, maxId = Long.MaxValue, nCentroids = 2, nProbe = 2,
      m = 8, codesPerSub = 4, dim = 64, rerank = 6,
      index = Some(idx))
      .filter(col("a_id") < 4L)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(fromIndex == direct, "maintained-code-table search must " +
      s"equal the inline-encode search: $fromIndex vs $direct")
    assert(fromIndex.nonEmpty)
  }

  test("MinHash band-index maintenance equals the rebuild, and the " +
      "screen served from it equals incrementalMinhash") {
    val (corpus, index) = (tmp("iimh_c_"), tmp("iimh_i_"))
    val base = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "pack my box with five dozen liquor jugs right now",
      3L -> "how vexingly quick daft zebras jump over fences")
    assert(TxTable.create(base, corpus))
    TxTable.merge(spark, corpus, docs(
      2L -> "pack my box with five dozen liquor jugs right here",
      4L -> "sphinx of black quartz judge my vow promptly"))
    assert(TxTable.delete(spark, corpus, col("doc_id") === 3L) == 3L)
    IncrementalIndex.initMinhash(spark, index)
    for (v <- 1L to 3L)
      IncrementalIndex.applyMinhash(spark, corpus, index, v)
    val maintained = TxTable.read(spark, index)
      .select("doc_id", "band_idx", "band_hash")
      .as[(Long, Int, Long)].collect().toSet
    val expected = IncrementalIndex.minhashBandRows(
      TxTable.read(spark, corpus).select("doc_id", "text"))
      .as[(Long, Int, Long)].collect().toSet
    assert(maintained == expected)
    assert(maintained.map(_._1) == Set(1L, 2L, 4L))

    // batch doc 100 = EXACT copy of live doc 2's CURRENT (post-merge)
    // text — identical shingle set, identical signature, so every
    // band collides: a GUARANTEED maintained-routing hit. Doc 101 is
    // unrelated; doc 103 copies DELETED doc 3's text — its bands
    // were retracted, so it must route to nothing (the retraction
    // proof). Served must equal the recompute screen pair for pair.
    val batch = docs(
      100L -> "pack my box with five dozen liquor jugs right here",
      101L -> "completely unrelated text about distant nebulae",
      103L -> "how vexingly quick daft zebras jump over fences")
    val served = IncrementalIndex.screenMinhash(spark, corpus, index,
      batch, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val recomputed = ApproxDedup.incrementalMinhash(batch,
      TxTable.read(spark, corpus).select("doc_id", "text"),
      threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(served == recomputed)
    assert(served.contains((100L, 2L, 1.0)),
      s"exact copy of a live doc must route and verify: $served")
    assert(!served.exists(_._1 == 101L))
    assert(!served.exists(p => p._2 == 3L),
      "deleted doc 3's retracted bands must route to nothing")
  }

  test("feedRange survives schema evolution mid-range, guards its " +
      "internal tag column, and returns empty for an empty range") {
    val corpus = tmp("iidx_fr_")
    assert(TxTable.create(docs(1L -> "a", 2L -> "b"), corpus))    // v1
    TxTable.append(docs(3L -> "c"), corpus)                       // v2
    // v3 ALTER ADD COLUMNS: later transitions read a WIDER schema —
    // the union across the range must not throw on the mismatch
    TxTable.evolveSchema(corpus, addCols = Seq(
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType)), widenCols = Nil)
    TxTable.append(Seq((4L, "d", "en")).toDF("doc_id", "text", "lang"),
      corpus, buckets = 1)                                        // v4
    val feeds = IncrementalIndex.feedRange(spark, corpus, 1L, 4L)
    assert(feeds.keySet == Set(1L, 2L, 3L, 4L))
    // pre-evolution feeds null-fill the added column; every feed's
    // content matches its own per-version change scan
    assert(feeds(2L).select("doc_id").as[Long].collect().toSeq ==
      Seq(3L))
    assert(feeds(2L).select("lang").as[Option[String]]
      .collect().toSeq == Seq(None),
      "pre-evolution rows null-fill the evolved column")
    assert(feeds(4L).select("doc_id", "lang").as[(Long, Option[String])]
      .collect().toSet == Set((4L, Some("en"))))
    assert(feeds(3L).isEmpty, "metadata-only transition feeds nothing")
    // the feeds drive real folds: a BM25 catch-up over the evolved
    // range equals the rebuild (the REFRESH INDEX path end-to-end)
    val index = tmp("iidx_fri_")
    IncrementalIndex.initBm25(spark, index)
    for (v <- 1L to 4L)
      IncrementalIndex.applyBm25(spark, corpus, index, v,
        feed = Some(feeds(v)))
    assert(postingsOf(index) == rebuilt(corpus))
    // empty range: a caught-up catch-up is a no-op, not a throw
    assert(IncrementalIndex.feedRange(spark, corpus, 5L, 4L).isEmpty)
    // reserved-name guard: a corpus column named like the internal
    // version tag must refuse loudly instead of being corrupted
    val clash = tmp("iidx_frc_")
    assert(TxTable.create(Seq((1L, "x", 9L))
      .toDF("doc_id", "text", "_graft_feed_v"), clash, buckets = 1))
    val e = intercept[IllegalArgumentException] {
      IncrementalIndex.feedRange(spark, clash, 1L, 1L)
    }
    assert(e.getMessage.contains("_graft_feed_v"))
  }

  test("init reports CAS ownership: first creator true, any later " +
      "call false — the SQL CREATE INDEX duplicate contract") {
    val index = tmp("iidx_init_")
    assert(IncrementalIndex.initBm25(spark, index),
      "first init must own the create")
    assert(!IncrementalIndex.initBm25(spark, index),
      "second init must report the existing table, not ownership")
  }
}
