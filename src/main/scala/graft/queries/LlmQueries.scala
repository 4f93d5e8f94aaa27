package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import graft.multimodal.MultimodalOps
import graft.operators.{AnnSearch, ApproxDedup, Bpe, TextAnalysis}

/** Query registrations for the LLM-training-data operator pack:
  * approximate dedup (MinHash-LSH / SimHash / n-gram Jaccard),
  * ANN search (LSH-bucketed), text analysis (lang-ID, token counts,
  * fingerprints) and the multimodal plumbing pipeline.
  *
  * Oracle coverage: `q_text_tokens`, `q_text_langid`,
  * `q_text_fingerprint` (hash-invariant observables), `q_dedup_ngram`
  * (string-set Jaccard), `q_sample_stratified`, `q_sample_split`
  * (portable md5 buckets), `q_embed_quantize` (IEEE-deterministic
  * diagnostics) and `q_pack_sequences` are SQL-expressible and
  * hash-matched against DuckDB. The simhash keys replay FULLY
  * (portable md5-derived fingerprints + brute-force hamming —
  * exactly the chunk-bucketed result, by pigeonhole completeness at
  * hamming ≤ 3); the minhash keys take the brute-force Jaccard
  * oracle (sound here: all qualifying pairs sit at j ≥ 0.9 where
  * LSH recall is complete). ALL THREE ANN paths replay FULLY in
  * DuckDB (seeded hyperplanes as double literals; micro-quantized
  * integer Lloyd/PQ training means — see
  * [[AnnSearch.refineCentroids]]; the PQ ADC left-associative term
  * chain replayed via a pivot); only BPE tokenization remains
  * rows-only, pinned by `BpeSpec` against an independent reference
  * encoder instead.
  */
object LlmQueries {

  /** The near-dup pair frame q_dedup_clusters AND q_dedup_clusters_star
    * both cluster — memoized ([[graft.operators.DerivedCache]]) so the
    * second registry query reuses the checkpointed pairs instead of
    * re-running the bounded n-gram Jaccard verification tier. */
  private def clusterPairs(s: SparkSession, d: String): DataFrame =
    graft.operators.DerivedCache.memo(
      s, s"ngram_jaccard_pairs:n=2:maxId=300:thr=0.10:$d") {
      ApproxDedup.ngramJaccardPairs(
        Tables.documents(s, d).select("doc_id", "text"),
        n = 2, maxId = 300, threshold = 0.10)
    }

  /** The shared Lloyd-refined coarse quantizer for the embeddings
    * slice — q_ann_ivf and the IVF-PQ index train the IDENTICAL
    * centroids (same slice, same params), so one training serves
    * both (memoValue, codebook-sized). */
  /** Trained unigram vocabulary for the dataset — memoized:
    * q_unigram_train emits it, q_text_tokens_unigram encodes under
    * it; one training serves both (memoValue, codebook-sized). */
  private def unigramVocab(s: SparkSession, d: String)
      : Seq[graft.operators.Unigram.Piece] =
    graft.operators.DerivedCache.memoValue(
      s, s"unigram_vocab:k=40:r=2:$d") {
      graft.operators.Unigram.train(
        Tables.documents(s, d).select("text"), "text",
        topKMulti = 40, rounds = 2)
    }

  private def coarseQuantizer(s: SparkSession, d: String)
      : Array[(Int, Seq[Float])] =
    graft.operators.DerivedCache.memoValue(
      s, s"ann_coarse:maxId=200:nc=8:ki=2:$d") {
      AnnSearch.trainQuantizer(
        Tables.embeddings(s, d).filter(col("vec_id") < 200),
        nCentroids = 8, kmeansIters = 2)
    }

  /** The shared IVFADC index (coarse centroids + residual
    * codebooks) for the embeddings slice — trained ONCE per
    * (session, dataset) and served to every query shape
    * (q_ann_ivfpq AND q_ann_ivfpq_filtered), the way a production
    * index is operated. Driver footprint is codebook-sized by
    * [[graft.operators.AnnSearch.IvfPqIndex]]'s contract; the key
    * encodes every train parameter. */
  private def ivfPqIndex(s: SparkSession, d: String)
      : AnnSearch.IvfPqIndex =
    graft.operators.DerivedCache.memoValue(
      s, s"ann_ivfpq_index:maxId=200:nc=8:ki=2:m=16:k=16:pi=2:$d") {
      AnnSearch.ivfPqTrain(Tables.embeddings(s, d), maxId = 200,
        nCentroids = 8, kmeansIters = 2, m = 16, codesPerSub = 16,
        dim = 64, pqIters = 2, coarse = Some(coarseQuantizer(s, d)))
    }

  /** The MAINTAINED IVF-PQ serving tables for the embeddings slice:
    * a corpus TxTable plus its IVFADC code table folded from the
    * change feed ([[graft.operators.IncrementalIndex.applyPq]]) —
    * built once per (session, dataset) and served to BOTH ivfpq
    * query shapes, so a session pays codebook loads and the
    * cell-local ADC scan, never a corpus re-encode (pre-round-13
    * both keys re-encoded the 200-vector slice per run; at 100 TB
    * that re-encode is a full corpus pass). Returns (corpusDir,
    * codeTableDir). */
  private def ivfPqServing(s: SparkSession, d: String): (String, String) =
    graft.operators.DerivedCache.memoValue(
      s, s"ann_ivfpq_serving:maxId=200:$d") {
      val (corpus, index) = (SparkEntry.tempDir("graft_pqserve_corp_"),
        SparkEntry.tempDir("graft_pqserve_code_"))
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .select("vec_id", "label", "embedding")
      require(graft.sources.TxTable.create(e, corpus,
        bucketKey = "vec_id"), "serving corpus create lost CAS")
      graft.operators.IncrementalIndex.init(s, index,
        graft.operators.IncrementalIndex.pqSchemaDdl, "vec_id")
      graft.operators.IncrementalIndex.applyPq(s, corpus, index,
        ivfPqIndex(s, d), v = 1L)
      (corpus, index)
    }

  /** Propagation-algorithm cluster assignments over [[clusterPairs]]
    * — memoized: q_dedup_clusters AND q_dedup_canonical consume the
    * identical frame, and the CC iteration's per-round job floor is
    * exactly the fixed cost worth paying once. q_dedup_clusters_star
    * deliberately does NOT share it: its point is proving the star
    * contraction reaches the same fixpoint independently. */
  private def clusterComps(s: SparkSession, d: String): DataFrame =
    graft.operators.DerivedCache.memo(
      s, s"dedup_comps:propagation:n=2:maxId=300:thr=0.10:$d") {
      graft.operators.ConnectedComponents.dedupClusters(
        Tables.documents(s, d).filter(col("doc_id") < 300)
          .select("doc_id"),
        clusterPairs(s, d))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash" -> ((s, d) =>
      ApproxDedup.minhashPairs(
        Tables.documents(s, d).select("doc_id", "text"),
        n = 3, k = 32, bands = 8, threshold = 0.3)),

    // maxHamming=3: the largest threshold with guaranteed-complete
    // recall under 4-chunk bucketing (pigeonhole) — higher values
    // silently miss pairs that differ in every chunk.
    "q_dedup_simhash" -> ((s, d) =>
      ApproxDedup.simhashPairs(
        Tables.documents(s, d).select("doc_id", "text"), maxHamming = 3)),

    "q_dedup_minhash_groups" -> ((s, d) =>
      ApproxDedup.minhashGroups(
        Tables.documents(s, d).select("doc_id", "text"),
        n = 3, k = 32, bands = 8, threshold = 0.3)),

    // Duplicate-collapsed near-dup groups: pair space bounded by
    // DISTINCT fingerprints (immune to duplicate-heavy corpora, where
    // pairwise enumeration is quadratic in group size).
    "q_dedup_simhash_groups" -> ((s, d) =>
      ApproxDedup.simhashGroups(
        Tables.documents(s, d).select("doc_id", "text"), maxHamming = 3)),

    "q_dedup_ngram" -> ((s, d) =>
      ApproxDedup.ngramJaccardPairs(
        Tables.documents(s, d).select("doc_id", "text"),
        n = 2, maxId = 300, threshold = 0.2)),

    // Asymmetric containment |A∩B|/|A|: flags a doc whose 3-gram set
    // is ≥80% contained in another — the quoted/embedded-document
    // case symmetric Jaccard structurally misses. Ordered pairs.
    "q_dedup_containment" -> ((s, d) =>
      ApproxDedup.ngramContainmentPairs(
        Tables.documents(s, d).select("doc_id", "text"),
        n = 3, maxId = 300, threshold = 0.8)),

    // Exact tier of incremental dedup: drop new-batch docs whose
    // exact content already exists in the corpus — an anti-join on
    // the portable md5 content hash (the cheap screen that runs
    // BEFORE the MinHash near-dup tier; at scale the corpus side is
    // a persisted hash index, and the anti-join shuffles 16-byte
    // hashes, never text).
    // The natural fixtures carry almost no exact cross-slice dups
    // (0/0/1 at sf0.001/0.01/0.1), which would leave the anti-join's
    // DROP behavior untested — so the new batch additionally contains
    // 20 relabeled corpus texts (doc_id+1000) that MUST be dropped at
    // every scale factor; the oracle plants the same rows.
    "q_dedup_exact_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
      val newB = docs.filter(col("doc_id") >= 400)
        .select("doc_id", "text").union(planted)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val corpus = docs.filter(col("doc_id") < 400)
        .select(md5(col("text").cast("binary")).as("h")).distinct()
      newB.join(corpus, Seq("h"), "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // Incremental dedup: screen the doc_id ≥ 400 "new batch" against
    // the < 400 corpus. Oracle is the brute-force cross-slice 3-gram
    // Jaccard: sound here because every qualifying pair on this
    // corpus has j ≥ 0.9, where 8-band/4-row LSH recall is complete
    // (miss probability (1-j⁴)⁸ ≤ 2e-4 per pair, and the recall is
    // deterministic for fixed data — asserted by this very gate).
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      ApproxDedup.incrementalMinhash(
        docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
        n = 3, k = 32, bands = 8, threshold = 0.3)
    }),

    // Near-dup pairs → duplicate clusters via distributed connected
    // components (min-label propagation). threshold=0.10 yields
    // multi-hop clusters (size up to 5) on this corpus, so the gate
    // exercises the transitive closure, not just pair passthrough.
    "q_dedup_clusters" -> ((s, d) =>
      clusterComps(s, d)
        .select(col("id").as("doc_id"), col("comp"), col("cluster_size"))
        .orderBy("doc_id")),

    // Same clusters via the alternating large-star/small-star
    // contraction (O(log² n) rounds vs diameter) — registered against
    // the SAME recursive-CTE oracle as q_dedup_clusters, so the gate
    // proves both component implementations agree with the ground
    // truth (the q_join_salted-vs-plain-join precedent).
    "q_dedup_clusters_star" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = clusterPairs(s, d)
      graft.operators.ConnectedComponents.dedupClusters(
          docs.filter(col("doc_id") < 300).select("doc_id"), pairs,
          graft.operators.ConnectedComponents.starComponents(_, _))
        .select(col("id").as("doc_id"), col("comp"), col("cluster_size"))
        .orderBy("doc_id")
    }),

    // The step a real dedup pipeline runs AFTER clustering: pick ONE
    // canonical representative per near-dup cluster and mark the rest
    // for deletion. Policy: keep the most complete version (max token
    // count, ties to the lowest doc_id) — deterministic, and exactly
    // the decision that pairwise dedup gets wrong on A~B~C chains
    // (see ConnectedComponents scaladoc). Reuses the memoized cluster
    // pair frame; the window is per-cluster, so at 100 TB it
    // partitions by component — no global ordering anywhere.
    "q_dedup_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val comps = clusterComps(s, d)
        .select(col("id").as("doc_id"), col("comp"), col("cluster_size"))
      val toks = docs.filter(col("doc_id") < 300)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_toks"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("comp")
        .orderBy(col("n_toks").desc, col("doc_id").asc)
      comps.join(toks, "doc_id")
        .withColumn("keep", row_number().over(w) === 1)
        .select("doc_id", "comp", "cluster_size", "n_toks", "keep")
        .orderBy("doc_id")
    }),

    "q_ann_lsh" -> ((s, d) =>
      AnnSearch.lshTopK(Tables.embeddings(s, d), k = 5, maxId = 200)),

    // kmeansIters=2: Lloyd-refined coarse quantizer (AnnSearchSpec
    // pins the recall improvement over the raw lowest-id seed).
    // Hash-gated: the micro-quantized integer Lloyd means make both
    // iterations DuckDB-replayable — see annIvfOracle.
    "q_ann_ivf" -> ((s, d) =>
      AnnSearch.ivfTopK(Tables.embeddings(s, d), k = 5, maxId = 200,
        kmeansIters = 2, index = Some(coarseQuantizer(s, d)))),

    // FILTERED ANN — the production RAG/tenant shape: top-k among
    // vectors satisfying a metadata predicate (label = 1 here). The
    // quantizer trains on the full slice (shared index); the
    // predicate pre-filters the CANDIDATE side before the cell join,
    // so only qualifying vectors are ranked and every query gets up
    // to k qualifying neighbors (post-filtering an unfiltered top-k
    // would silently return fewer). Deterministic lowest-id quantizer
    // (kmeansIters=0) keeps the oracle a direct replay; AnnSearchSpec
    // proves probe-all ≡ the filtered brute-force ground truth.
    "q_ann_filtered" -> ((s, d) =>
      AnnSearch.ivfTopK(Tables.embeddings(s, d), k = 5, maxId = 200,
        kmeansIters = 0, candidateFilter = col("label") === 1)),

    // Product quantization + ADC + exact re-rank (AnnSearchSpec pins
    // recall vs brute force and the 64x code compression).
    // Hash-gated: training means are micro-quantized integers, so
    // the full train+encode+ADC+rerank pipeline replays in DuckDB —
    // see annPqOracle.
    "q_ann_pq" -> ((s, d) =>
      AnnSearch.pqTopK(Tables.embeddings(s, d), k = 5, maxId = 200)),

    // Composed IVF-PQ (IVFADC): Lloyd-refined coarse cells + ONE
    // shared product-quantizer over the cell RESIDUALS + cell-local
    // ADC (only the 2 probed cells are scanned, vs q_ann_pq's whole-
    // corpus code scan) + exact re-rank — the production 100 TB index
    // shape, SERVED FROM THE MAINTAINED CODE TABLE ([[ivfPqServing]]:
    // the session reads standing (vec_id, cell, codes) rows, never
    // re-encoding the corpus). Hash-gated end to end: coarse
    // training, residuals, PQ training, the left-associative ADC
    // chain and the re-rank all replay in DuckDB (annIvfPqOracle);
    // AnnSearchSpec pins recall ≥ the plain-IVF path at strictly
    // smaller candidate bytes and serving ≡ the inline-encode path.
    "q_ann_ivfpq" -> ((s, d) => {
      val (corpus, index) = ivfPqServing(s, d)
      graft.operators.IncrementalIndex.searchIvfPq(s, corpus, index,
        ivfPqIndex(s, d), queryPred = lit(true))
    }),

    // Filtered ∘ composed: the COMPLETE production retrieval shape —
    // shared maintained code table, metadata predicate restricting
    // the code-table side (semi-join back to the corpus row, both
    // sides vec_id-bucketed) before the cell-local ADC, exact
    // re-rank of qualifying survivors only. Same oracle replay with
    // the candidate side label-filtered.
    "q_ann_ivfpq_filtered" -> ((s, d) => {
      val (corpus, index) = ivfPqServing(s, d)
      graft.operators.IncrementalIndex.searchIvfPq(s, corpus, index,
        ivfPqIndex(s, d), queryPred = lit(true),
        candidateFilter = Some(col("label") === 1))
    }),

    // Hash-proof gate for the ANN machinery: per-query recall@5 of
    // the LSH and IVF paths against the exact brute-force top-5.
    // Everything here is DuckDB-reproducible — cosine is a sequential
    // double accumulation (DotProductFF == list_inner_product), the
    // seeded hyperplanes are emitted into the oracle SQL as double
    // literals, and the IVF side uses the deterministic lowest-id
    // quantizer (kmeansIters=0; the refined quantizer is exercised —
    // and since the micro-quantized Lloyd means, also hash-gated —
    // by q_ann_ivf's own unrolled-Lloyd oracle).
    "q_ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      def pairs(df: DataFrame) = df.select("a_id", "b_id")
      // ground truth rides the exact cell-join kernel (bit-identical
      // to bruteTopK by its triangle-inequality proof — no NLJ), and
      // SHARES q_sim_topk's memoized cell-assignment frame. NOT
      // persisted despite three consumers below: measured at sf0.1
      // (r15 session 2, bracketed A/B/A), the materialization
      // barrier cost +0.5-0.7 s cold vs the three consumers'
      // sub-DAGs executing CONCURRENTLY over the memoized assignment
      // (AQE runs independent stages in parallel; a cache is a
      // serialization point), while the steady win was only −0.1 s —
      // the re-executed part is the probe/rank tail, not the corpus
      // scan, which the DerivedCache memo already shares.
      val brute = pairs(AnnSearch.exactCosineTopKNonSelf(
        e.filter(col("vec_id") < 200), k = 5,
        cacheKey = Some(s"sim_topk:max=200:$d")))
      val lsh = pairs(AnnSearch.lshTopK(e, k = 5, maxId = 200))
      val ivf = pairs(AnnSearch.ivfTopK(e, k = 5, maxId = 200,
        kmeansIters = 0))
      def hits(ann: DataFrame, as: String) =
        brute.join(ann, Seq("a_id", "b_id"), "left_semi")
          .groupBy("a_id").agg(count(lit(1)).as(as))
      brute.select("a_id").distinct()
        .join(hits(lsh, "hl"), Seq("a_id"), "left")
        .join(hits(ivf, "hi"), Seq("a_id"), "left")
        .select(col("a_id"),
          round(coalesce(col("hl"), lit(0L)) / lit(5.0), 6)
            .as("recall_lsh"),
          round(coalesce(col("hi"), lit(0L)) / lit(5.0), 6)
            .as("recall_ivf"))
        .orderBy("a_id")
    }),

    "q_text_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    "q_text_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).cast("int")
            .as("ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).cast("int")
            .as("bpe_tokens"))
        .orderBy("doc_id")),

    // Oracle-checkable fingerprint observables: the xxhash64 values
    // themselves have no DuckDB equivalent, but (a) the distinct chunk
    // count and (b) the size of each whole-doc fingerprint's duplicate
    // group are invariant under the hash (equal fingerprints ⇔ equal
    // normalized text, absent collisions) — DuckDB computes the same
    // numbers from the strings directly.
    "q_text_fingerprint" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fingerprint")
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.docFingerprint(col("text")).as("fingerprint"),
          size(TextAnalysis.chunkFingerprints(col("text"))).cast("int")
            .as("n_chunks"))
        .withColumn("fp_dupes", count(lit(1)).over(w).cast("int"))
        .select("doc_id", "n_chunks", "fp_dupes")
        .orderBy("doc_id")
    }),

    "q_multimodal_pipeline" -> ((s, _) => MultimodalOps.pipeline(s)),

    // Systematic stratified sampling: every 5th doc per language in
    // doc_id order — exact per-stratum fractions, reproduced verbatim
    // by the oracle.
    "q_sample_stratified" -> ((s, d) =>
      graft.operators.Sampling.stratifiedEveryKth(
        Tables.documents(s, d), "lang", "doc_id", k = 5)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // Hash-based train/val/test split via the portable md5 bucket —
    // per-row assignment plus per-split counts, reproduced bucket-
    // for-bucket by the oracle. The cheaper xxhash64 variant
    // (Sampling.split) is the scale path and stays pinned by
    // SamplingSpec (determinism, disjointness, fraction tolerance).
    // Temperature-flattened mixture sampling (the multilingual
    // pretraining upsampling move, α = 1/2): per-language keep-rate
    // ∝ n^(α−1) = 1/√n, normalized so the SMALLEST language keeps
    // ~100% — high-resource languages are downsampled toward the
    // flattened target p ∝ n^α. α = 1/2 keeps every arithmetic step
    // one correctly-rounded IEEE op (sqrt/div/mul/floor), so the
    // integer rates — and the portable-md5 bucket admission
    // (Sampling.sampleByRates) — replay bit-identically in DuckDB.
    // Scale: rates are a |langs|-row broadcast (the min is the
    // legitimate single-row broadcast-scalar pattern); admission is
    // a per-row projection, zero shuffle beyond the audit
    // aggregation.
    "q_mix_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val minN = counts.agg(min(col("n_docs")).as("n_min"))
      val rates = counts.crossJoin(broadcast(minN))
        .select(col("lang"), col("n_docs"),
          floor(lit(100.0) * sqrt(col("n_min").cast("double")) /
            sqrt(col("n_docs").cast("double"))).cast("int").as("rate"))
      val admitted = graft.operators.Sampling.sampleByRates(
          docs, "doc_id", "lang", rates.select("lang", "rate"))
        .groupBy("lang").agg(count(lit(1)).as("n_admitted"))
      rates.join(admitted, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("rate"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"))
        .orderBy("lang")
    }),

    "q_sample_split" -> ((s, d) =>
      graft.operators.Sampling.splitPortable(
        Tables.documents(s, d), "doc_id")
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")),

    // Real-BPE token counts: merge table trained on the 200 lowest-id
    // docs (deterministic offline-vocabulary shape), applied in one
    // narrow broadcast pass. HASH-GATED: the oracle unrolls every
    // training round — argmax pair + windowed non-overlap rewrite —
    // as DuckDB CTEs and replays the encode as the same rewrite over
    // weight-0 corpus words ([[graft.operators.BpeOracle]]; BpeSpec
    // additionally pins Spark's counts against an independent serial
    // reference encoder). nMerges = 120, not the r5 rounds' 200: the
    // synthetic corpus vocabulary exhausts all mergeable pairs at ~90
    // rounds (results identical from there up), and DuckDB's
    // 1000-deep expression limit caps the unrolled chain at ~160.
    "q_text_tokens_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val merges = Bpe.trainOnSample(docs, "doc_id", "text",
        sampleN = 200, nMerges = 120)
      Bpe.tokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // Tokenizer TRAINING at corpus scale: the word-frequency table
    // never leaves the cluster; each merge round ships exactly one
    // argmax row to the driver. Output is the learned merge table —
    // a pure function of the corpus (deterministic (-count, a, b)
    // tie-break), pinned bit-equal to the serial reference trainer
    // by BpeSpec AND hash-gated: the oracle replays all 32 training
    // rounds as unrolled DuckDB CTEs (BpeOracle.mergeTableSql — the
    // windowed non-overlap rewrite makes the "sequential" merge pass
    // SQL-expressible after all; see BpeOracle scaladoc).
    "q_bpe_train" -> ((s, d) => {
      import s.implicits._
      val merges = Bpe.trainDistributed(
        Tables.documents(s, d).select("text"), "text", nMerges = 32)
      merges.zipWithIndex
        .map { case ((a, b), r) => (r, a, b, a + b) }
        .toDF("rank", "left", "right", "merged")
        .orderBy("rank")
    }),

    // Unigram-LM tokenizer training (SentencePiece family, Kudo
    // 2018) by Viterbi hard-EM — see [[graft.operators.Unigram]]:
    // weighted substring seeding, micro-quantized ln costs (the
    // engine's transcendental discipline), two EM rounds of
    // distributed min-cost segmentation with deterministic
    // longest-piece ties. The DuckDB oracle replays seed selection
    // and BOTH EM rounds as unrolled per-position DP chains
    // ([[graft.operators.UnigramOracle]]). Vocab memoized: the
    // tokens key below encodes under the identical artifact.
    "q_unigram_train" -> ((s, d) => {
      import s.implicits._
      unigramVocab(s, d)
        .map(p => (p.piece, p.cnt, p.costMicro))
        .toDF("piece", "cnt", "cost_micro")
        .orderBy("piece")
    }),

    // Per-document token counts under the trained unigram
    // vocabulary: one broadcast + one narrow mapPartitions pass with
    // a per-partition word memo (the Bpe.tokenCounts scale
    // contract); the oracle runs a third DP chain under the final
    // costs — the encoder itself, replayed.
    "q_text_tokens_unigram" -> ((s, d) =>
      graft.operators.Unigram.tokenCounts(
        Tables.documents(s, d), "doc_id", "text", unigramVocab(s, d))
        .orderBy("doc_id")),

    // Tokenizer evaluation: per-language fertility / compression of
    // the three tokenizers the engine trains or applies — whitespace,
    // BPE-regex pretokens, and the trained unigram LM (memoized vocab
    // shared with q_unigram_train / q_text_tokens_unigram, so this
    // key pays no training). bytes-per-token and fertility are THE
    // standard tokenizer-selection metrics for a pretraining corpus.
    // Shape: one narrow projection + one broadcast-costs encode pass
    // + a per-lang hash aggregate (map-side partials; lang cardinality
    // is tiny) — no wide shuffle at any corpus size. Ratios are bare
    // IEEE divisions of exact BIGINT sums (SURVEY 7.4 rule 10).
    "q_tokenizer_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val uni = graft.operators.Unigram.tokenCounts(
        docs, "doc_id", "text", unigramVocab(s, d))
        .withColumnRenamed("n_tokens", "uni_t")
      docs.select(col("doc_id"), col("lang"),
          length(col("text")).as("chars"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_t"),
          TextAnalysis.bpeTokenCount(col("text")).as("bpe_t"))
        .join(uni, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("chars")).as("chars"),
          sum(col("ws_t")).as("ws_tokens"),
          sum(col("bpe_t")).as("bpe_tokens"),
          sum(col("uni_t")).as("uni_tokens"))
        .select(col("lang"), col("n_docs"), col("chars"),
          col("ws_tokens"), col("bpe_tokens"), col("uni_tokens"),
          (col("uni_tokens").cast("double") /
            col("ws_tokens").cast("double")).as("fertility_uni_ws"),
          (col("chars").cast("double") /
            col("uni_tokens").cast("double")).as("bytes_per_uni_token"),
          (col("chars").cast("double") /
            col("bpe_tokens").cast("double")).as("bytes_per_bpe_token"))
        .orderBy("lang")
    }),

    // Sequence packing under REAL tokenizer budgets: same prefix-sum
    // window operator as q_pack_sequences, but the per-doc token
    // count is the trained-BPE count instead of the whitespace
    // heuristic — the shape a production pretraining pipeline runs.
    // Hash-gated via BpeOracle.packSql (trained-count replay feeding
    // the q_pack_sequences prefix-sum oracle); nMerges 120 as in
    // q_text_tokens_bpe.
    "q_pack_sequences_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = Bpe.trainOnSample(docs.select(col("doc_id"),
        col("text")), "doc_id", "text", sampleN = 200, nMerges = 120)
      // counts appended in the same pass — no corpus-vs-counts join;
      // the only shuffle is the packing window's partitionBy(lang)
      val counted = Bpe.withTokenCounts(
        docs.select("doc_id", "lang", "text"), "text", merges)
        .select(col("doc_id"), col("lang"),
          col("bpe_tokens").cast("long").as("t"))
      graft.operators.SequencePacking.packWindows(
        counted, "lang", "doc_id", "t", budget = 2048)
        .select("doc_id", "lang", "window_id", "offset_in_window")
        .orderBy("doc_id")
    }),

    "q_pack_sequences" -> ((s, d) =>
      graft.operators.SequencePacking.packWindows(
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("t")),
        "lang", "doc_id", "t", budget = 2048)
        .select("doc_id", "lang", "window_id", "offset_in_window")
        .orderBy("doc_id")),

    // First-fit-decreasing WHOLE-document packing — the
    // q_pack_sequences twin that never splits a document across
    // context windows (FFD bound: bins ≤ 11/9·OPT + 1, pinned in
    // SequencePackingSpec together with the efficiency-vs-concat
    // comparison). Deterministic (tokens DESC, doc_id tiebreak), so
    // the DuckDB oracle replays the exact assignment with a
    // recursive CTE carrying the bin-load list; n_chars/4+1 is the
    // shared token surrogate (integer floor-div on both engines).
    "q_pack_ffd" -> ((s, d) =>
      graft.operators.SequencePacking.packBinsFfd(
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            ((col("n_chars") / 4).cast("long") + 1).as("t")),
        "lang", "doc_id", "t", budget = 512)
        .orderBy("shard", "doc_id")),

    // Length-grouped dynamic batching (the HF-trainer
    // group_by_length move): per shard, docs sorted by token length
    // DESC fill fixed-size batches of 16, so each batch pads to a
    // max-length close to its members' own — vs arrival-order
    // batching where one long doc pads 15 short ones. Both
    // assignments are emitted side by side with EXACT integer
    // padding accounting (pad = n·max − Σt; no floats anywhere), so
    // the padding win is part of the gated result. Batch ids are
    // sequential chunks of the same per-shard row numbering in both
    // orders, hence the (lang, batch_id) join is 1:1 by
    // construction. Scale: two per-shard windows (partitioned) + one
    // batch-grain aggregate — shard count is the parallelism knob.
    "q_pack_batches" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("t"))
      val wSort = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("t").desc, col("doc_id").asc)
      val wArr = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("doc_id").asc)
      val assigned = t
        .withColumn("bs",
          floor((row_number().over(wSort) - lit(1)) / lit(16))
            .cast("long"))
        .withColumn("ba",
          floor((row_number().over(wArr) - lit(1)) / lit(16))
            .cast("long"))
      val sorted = assigned.groupBy(col("lang"), col("bs").as("batch_id"))
        .agg(count(lit(1)).as("n_docs"), max("t").as("max_t_sorted"),
          sum("t").as("tok"))
        .select(col("lang"), col("batch_id"), col("n_docs"),
          col("max_t_sorted"),
          (col("n_docs") * col("max_t_sorted") - col("tok"))
            .as("pad_sorted"))
      val arrival = assigned.groupBy(col("lang"), col("ba").as("batch_id"))
        .agg(max("t").as("max_t_arrival"), sum("t").as("tok2"))
        .select(col("lang"), col("batch_id"), col("max_t_arrival"),
          col("tok2"))
      sorted.join(arrival, Seq("lang", "batch_id"))
        .select(col("lang"), col("batch_id"), col("n_docs"),
          col("max_t_sorted"), col("pad_sorted"), col("max_t_arrival"),
          (col("n_docs") * col("max_t_arrival") - col("tok2"))
            .as("pad_arrival"))
        .orderBy("lang", "batch_id")
    }),

    // int8 embedding quantization with reconstruction diagnostics.
    // Every step is elementwise IEEE double math in list order on
    // both engines (float→double widening is exact; round-half-away
    // ties match Spark's HALF_UP), so the rounded diagnostics are
    // DuckDB-reproducible — see the q_embed_quantize oracle.
    "q_embed_quantize" -> ((s, d) =>
      graft.operators.EmbeddingOps.quantized(Tables.embeddings(s, d))
        .select(col("vec_id"),
          round(col("scale"), 8).as("scale_r"),
          size(col("q")).as("dim"),
          round(col("max_abs_err"), 8).as("max_abs_err_r"),
          round(col("cos_recon"), 6).as("cos_recon_r"))
        .orderBy("vec_id"))
  )

  /** Connected components as a recursive CTE: reach(id, r) is the
    * transitive closure over the symmetrized near-dup edges (same
    * bigram-Jaccard pair derivation as q_dedup_ngram, threshold
    * 0.10); comp = MIN(reachable id) is exactly both engine
    * implementations' fixpoint. */
  /** Shared CTE prefix: transitive closure + (doc_id, comp,
    * cluster_size) as `comps` — consumed by clustersOracle (plain
    * projection) and canonicalOracle (representative window). */
  private val clustersCtePrefix: String =
    """WITH RECURSIVE
      |d AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(toks), 2)),
      |      i -> array_to_string(toks[i:i+1], ' '))) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents WHERE doc_id < 300)),
      |p AS (
      |  SELECT a_id, b_id FROM (
      |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |            len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      |    FROM d a JOIN d b ON a.doc_id < b.doc_id)
      |  WHERE jaccard >= 0.10),
      |e AS (SELECT a_id AS src, b_id AS dst FROM p
      |      UNION SELECT b_id, a_id FROM p),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS r FROM documents WHERE doc_id < 300
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
      |comps AS (
      |  SELECT doc_id, comp,
      |    COUNT(*) OVER (PARTITION BY comp) AS cluster_size
      |  FROM (SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id))""".stripMargin

  private val clustersOracle: String =
    s"""$clustersCtePrefix
      |SELECT doc_id, comp, cluster_size FROM comps
      |ORDER BY doc_id""".stripMargin

  /** q_dedup_canonical oracle: the representative window on top of
    * the same closure — keep = rank 1 by (n_toks DESC, doc_id ASC)
    * within the component. */
  private val canonicalOracle: String =
    s"""$clustersCtePrefix,
      |tk AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT)
      |    AS n_toks
      |  FROM documents WHERE doc_id < 300)
      |SELECT doc_id, comp, cluster_size, n_toks, (rn = 1) AS keep
      |FROM (
      |  SELECT c.doc_id, c.comp, c.cluster_size, tk.n_toks,
      |    row_number() OVER (PARTITION BY c.comp
      |      ORDER BY tk.n_toks DESC, c.doc_id ASC) AS rn
      |  FROM comps c JOIN tk USING (doc_id))
      |ORDER BY doc_id""".stripMargin

  private def stopList(lang: String): String =
    TextAnalysis.profiles(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  /** q_ann_recall oracle: replays the full brute + LSH + IVF pipeline
    * in DuckDB. The seeded hyperplanes are baked in as double
    * literals (the exact double values of the float planes Spark
    * uses, emitted via Float→Double→toString round-trip); cosine is
    * `list_inner_product` over DOUBLE[] — bit-equal to the sequential
    * double accumulation of [[graft.functions.DotProductFF]]; IVF
    * assignment/probe tie-breaks (sim DESC, cell DESC) mirror Spark's
    * lexicographic `array_max`/`array_sort` on (sim, cell) structs. */
  private val annRecallOracle: String = {
    def cosD(a: String, b: String) =
      s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a))" +
        s" * sqrt(list_inner_product($b, $b)))"
    val lshTables = AnnSearch.planes(4, 4, 64).zipWithIndex.map {
      case (tp, t) =>
        val bucket = tp.zipWithIndex.map { case (p, j) =>
          val lits = p.map(_.toDouble.toString).mkString("[", ", ", "]")
          s"(CASE WHEN list_inner_product(v, $lits) > 0" +
            s" THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        s"SELECT vec_id, $t AS table_idx, $bucket AS bucket FROM e"
    }.mkString(" UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 200),
       |brute AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round(${cosD("a.v", "b.v")}, 6) DESC,
       |                 b.vec_id ASC) AS rk
       |    FROM e a JOIN e b ON a.vec_id <> b.vec_id)
       |  WHERE rk <= 5),
       |lshb AS ($lshTables),
       |lshc AS (
       |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM lshb x JOIN lshb y
       |    ON x.table_idx = y.table_idx AND x.bucket = y.bucket
       |   AND x.vec_id <> y.vec_id),
       |lshtop AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT c.a_id, c.b_id,
       |      row_number() OVER (PARTITION BY c.a_id
       |        ORDER BY round(${cosD("a.v", "b.v")}, 6) DESC,
       |                 c.b_id ASC) AS rk
       |    FROM lshc c JOIN e a ON c.a_id = a.vec_id
       |                JOIN e b ON c.b_id = b.vec_id)
       |  WHERE rk <= 5),
       |cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
       |sims AS (
       |  SELECT e.vec_id, cent.cell, ${cosD("e.v", "cent.cv")} AS sim
       |  FROM e CROSS JOIN cent),
       |asg AS (
       |  SELECT vec_id AS b_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cell DESC) AS rn FROM sims)
       |  WHERE rn = 1),
       |prb AS (
       |  SELECT vec_id AS a_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cell DESC) AS rn FROM sims)
       |  WHERE rn <= 2),
       |ivfc AS (
       |  SELECT a_id, b_id FROM prb JOIN asg USING (cell)
       |  WHERE a_id <> b_id),
       |ivftop AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT c.a_id, c.b_id,
       |      row_number() OVER (PARTITION BY c.a_id
       |        ORDER BY round(${cosD("a.v", "b.v")}, 6) DESC,
       |                 c.b_id ASC) AS rk
       |    FROM ivfc c JOIN e a ON c.a_id = a.vec_id
       |                JOIN e b ON c.b_id = b.vec_id)
       |  WHERE rk <= 5),
       |lh AS (SELECT brute.a_id, COUNT(*) AS hl FROM brute
       |       JOIN lshtop USING (a_id, b_id) GROUP BY brute.a_id),
       |ih AS (SELECT brute.a_id, COUNT(*) AS hi FROM brute
       |       JOIN ivftop USING (a_id, b_id) GROUP BY brute.a_id)
       |SELECT q.a_id,
       |  round(COALESCE(hl, 0) / 5.0, 6) AS recall_lsh,
       |  round(COALESCE(hi, 0) / 5.0, 6) AS recall_ivf
       |FROM (SELECT DISTINCT a_id FROM brute) q
       |LEFT JOIN lh ON q.a_id = lh.a_id
       |LEFT JOIN ih ON q.a_id = ih.a_id
       |ORDER BY q.a_id""".stripMargin
  }

  /** Shared oracle fragment: sequential-double cosine (bit-equal to
    * [[graft.functions.DotProductFF]] — the annRecallOracle
    * precedent). */
  private def cosD(a: String, b: String): String =
    s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a))" +
      s" * sqrt(list_inner_product($b, $b)))"

  /** q_ann_lsh oracle: full DuckDB replay of the bucketed LSH top-k —
    * the seeded hyperplanes emitted as double literals (exactly the
    * float planes Spark uses, widened), bucket = sum of sign bits,
    * candidates = co-bucketed pairs in any table, ranked by the same
    * rounded cosine with (cos DESC, b_id ASC) ties. */
  private val annLshOracle: String = {
    val lshTables = AnnSearch.planes(4, 4, 64).zipWithIndex.map {
      case (tp, t) =>
        val bucket = tp.zipWithIndex.map { case (p, j) =>
          val lits = p.map(_.toDouble.toString).mkString("[", ", ", "]")
          s"(CASE WHEN list_inner_product(v, $lits) > 0" +
            s" THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        s"SELECT vec_id, $t AS table_idx, $bucket AS bucket FROM e"
    }.mkString(" UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 200),
       |lshb AS ($lshTables),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM lshb x JOIN lshb y
       |    ON x.table_idx = y.table_idx AND x.bucket = y.bucket
       |   AND x.vec_id <> y.vec_id)
       |SELECT a_id, b_id, cos_sim, rk FROM (
       |  SELECT c.a_id, c.b_id,
       |    round(${cosD("a.v", "b.v")}, 6) AS cos_sim,
       |    CAST(row_number() OVER (PARTITION BY c.a_id
       |      ORDER BY round(${cosD("a.v", "b.v")}, 6) DESC,
       |               c.b_id ASC) AS INT) AS rk
       |  FROM cand c JOIN e a ON c.a_id = a.vec_id
       |              JOIN e b ON c.b_id = b.vec_id)
       |WHERE rk <= 5
       |ORDER BY a_id, rk""".stripMargin
  }

  /** q_ann_ivf oracle: the two Lloyd iterations of the coarse
    * quantizer UNROLLED as CTEs (the q_ml_kmeans discipline) — exact
    * because [[AnnSearch.refineCentroids]] computes centroid means in
    * micro-quantized integer arithmetic: round(v·1e6) BIGINT sums
    * (order-independent), two sequential IEEE divisions, cast to
    * FLOAT. Assignment/probe tie-breaks (sim DESC, cell DESC) mirror
    * Spark's lexicographic array_max on (sim, cell) structs; the
    * final candidate ranking mirrors lshTopK's (cos DESC, b_id ASC).
    */
  private val annIvfOracle: String = {
    // one Lloyd iteration: assign against c{n-1}, micro-integer
    // means, float-cast centroids (empty cells keep the previous)
    def iter(n: Int): String =
      s"""s$n AS (
         |  SELECT e.vec_id, c.cell, ${cosD("e.v", "c.cv")} AS sim
         |  FROM e CROSS JOIN c${n - 1} c),
         |a$n AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, cell DESC) AS rn FROM s$n)
         |  WHERE rn = 1),
         |x$n AS (SELECT a.cell, e.v FROM a$n a JOIN e USING (vec_id)),
         |m$n AS (
         |  SELECT cell, i AS pos,
         |    CAST(CAST(CAST(SUM(CAST(round(v[i] * 1000000.0, 0)
         |          AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0
         |      AS FLOAT) AS DOUBLE) AS mf
         |  FROM x$n, UNNEST(generate_series(1, len(v))) AS t(i)
         |  GROUP BY cell, i),
         |g$n AS (
         |  SELECT cell, list(mf ORDER BY pos) AS cv FROM m$n
         |  GROUP BY cell),
         |c$n AS (
         |  SELECT p.cell, COALESCE(g$n.cv, p.cv) AS cv
         |  FROM c${n - 1} p LEFT JOIN g$n USING (cell))""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 200),
       |c0 AS (
       |  SELECT cell, v AS cv FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |      AS cell, v FROM e)
       |  WHERE cell < 8),
       |${iter(1)},
       |${iter(2)},
       |sf AS (
       |  SELECT e.vec_id, c.cell, ${cosD("e.v", "c.cv")} AS sim
       |  FROM e CROSS JOIN c2 c),
       |asg AS (
       |  SELECT vec_id AS b_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cell DESC) AS rn FROM sf)
       |  WHERE rn = 1),
       |prb AS (
       |  SELECT vec_id AS a_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cell DESC) AS rn FROM sf)
       |  WHERE rn <= 2),
       |cand AS (
       |  SELECT a_id, b_id FROM prb JOIN asg USING (cell)
       |  WHERE a_id <> b_id)
       |SELECT a_id, b_id, cos_sim, rk FROM (
       |  SELECT c.a_id, c.b_id,
       |    round(${cosD("a.v", "b.v")}, 6) AS cos_sim,
       |    CAST(row_number() OVER (PARTITION BY c.a_id
       |      ORDER BY round(${cosD("a.v", "b.v")}, 6) DESC,
       |               c.b_id ASC) AS INT) AS rk
       |  FROM cand c JOIN e a ON c.a_id = a.vec_id
       |              JOIN e b ON c.b_id = b.vec_id)
       |WHERE rk <= 5
       |ORDER BY a_id, rk""".stripMargin
  }

  /** q_ann_filtered oracle: the kmeansIters=0 IVF replay (lowest-id
    * quantizer, 2-probe) with the candidate side restricted to
    * label = 1 BEFORE ranking — the filtered-ANN contract. */
  private val annFilteredOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |  FROM embeddings WHERE vec_id < 200),
       |c0 AS (
       |  SELECT cell, v AS cv FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |      AS cell, v FROM e)
       |  WHERE cell < 8),
       |sf AS (
       |  SELECT e.vec_id, e.label, c.cell, ${cosD("e.v", "c.cv")} AS sim
       |  FROM e CROSS JOIN c0 c),
       |asg AS (
       |  SELECT vec_id AS b_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cell DESC) AS rn
       |    FROM sf WHERE label = 1)
       |  WHERE rn = 1),
       |prb AS (
       |  SELECT vec_id AS a_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cell DESC) AS rn FROM sf)
       |  WHERE rn <= 2),
       |cand AS (
       |  SELECT a_id, b_id FROM prb JOIN asg USING (cell)
       |  WHERE a_id <> b_id)
       |SELECT a_id, b_id, cos_sim, rk FROM (
       |  SELECT c.a_id, c.b_id,
       |    round(${cosD("a.v", "b.v")}, 6) AS cos_sim,
       |    CAST(row_number() OVER (PARTITION BY c.a_id
       |      ORDER BY round(${cosD("a.v", "b.v")}, 6) DESC,
       |               c.b_id ASC) AS INT) AS rk
       |  FROM cand c JOIN e a ON c.a_id = a.vec_id
       |              JOIN e b ON c.b_id = b.vec_id)
       |WHERE rk <= 5
       |ORDER BY a_id, rk""".stripMargin

  /** q_ann_pq oracle: the whole product-quantization pipeline
    * unrolled — per-subspace codebooks seeded from the 16 lowest-id
    * subvectors, two L2-Lloyd training iterations (micro-quantized
    * integer means, the refineCentroids discipline), corpus encoding,
    * the ADC scan, and the exact re-rank. Fidelity notes: the L2
    * assignment score 2·v·c − ‖c‖² replays as
    * `2*list_inner_product(sv,cv) − list_inner_product(cv,cv)` (both
    * engines fold sequentially in double over float-widened values);
    * Spark's per-row ADC `reduce(_ + _)` over the m subspace dots is
    * a LEFT-ASSOCIATIVE double chain, so the oracle pivots the per-
    * subspace terms and adds them with SQL's left-associative `+` —
    * a SUM() aggregate would fold in arbitrary order and drift ulps.
    * Ties everywhere break like Spark's lexicographic struct
    * array_max: (score DESC, code DESC) / (approx DESC, b_id ASC).
    */
  private val annPqOracle: String = {
    val m = 8
    // one training iteration: assign every (vec, s) subvector to its
    // argmax-score code against cb{n-1}, then micro-integer means
    def trainIter(n: Int): String =
      s"""sc$n AS (
         |  SELECT s.vec_id, s.s, cb.code,
         |    2.0 * list_inner_product(s.sv, cb.cv)
         |      - list_inner_product(cb.cv, cb.cv) AS score
         |  FROM sv s JOIN cb${n - 1} cb ON cb.s = s.s),
         |a$n AS (
         |  SELECT vec_id, s, code FROM (
         |    SELECT vec_id, s, code, row_number() OVER (
         |      PARTITION BY vec_id, s ORDER BY score DESC, code DESC)
         |      AS rn FROM sc$n)
         |  WHERE rn = 1),
         |x$n AS (
         |  SELECT a.s, a.code, s.sv FROM a$n a
         |  JOIN sv s ON s.vec_id = a.vec_id AND s.s = a.s),
         |m$n AS (
         |  SELECT s, code, i AS pos,
         |    CAST(CAST(CAST(SUM(CAST(round(sv[i] * 1000000.0, 0)
         |          AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0
         |      AS FLOAT) AS DOUBLE) AS mf
         |  FROM x$n, UNNEST(generate_series(1, 8)) AS t(i)
         |  GROUP BY s, code, i),
         |g$n AS (
         |  SELECT s, code, list(mf ORDER BY pos) AS cv FROM m$n
         |  GROUP BY s, code),
         |cb$n AS (
         |  SELECT p.s, p.code, COALESCE(g$n.cv, p.cv) AS cv
         |  FROM cb${n - 1} p LEFT JOIN g$n USING (s, code))""".stripMargin
    val adcSum = (0 until m).map(s =>
      s"MAX(CASE WHEN s = $s THEN ts END)").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 200),
       |sv AS (
       |  SELECT vec_id, s, v[s * 8 + 1 : s * 8 + 8] AS sv
       |  FROM e, UNNEST(generate_series(0, ${m - 1})) AS t(s)),
       |ranked AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1
       |    AS INT) AS code
       |  FROM e ORDER BY vec_id LIMIT 16),
       |cb0 AS (
       |  SELECT r.code, s.s, s.sv AS cv
       |  FROM ranked r JOIN sv s USING (vec_id)),
       |${trainIter(1)},
       |${trainIter(2)},
       |scf AS (
       |  SELECT s.vec_id, s.s, cb.code,
       |    2.0 * list_inner_product(s.sv, cb.cv)
       |      - list_inner_product(cb.cv, cb.cv) AS score
       |  FROM sv s JOIN cb2 cb ON cb.s = s.s),
       |bcode AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (
       |      PARTITION BY vec_id, s ORDER BY score DESC, code DESC)
       |      AS rn FROM scf)
       |  WHERE rn = 1),
       |tterm AS (
       |  SELECT q.vec_id AS a_id, b.vec_id AS b_id, q.s,
       |    list_inner_product(q.sv, cb.cv) AS ts
       |  FROM sv q JOIN bcode b ON q.s = b.s AND q.vec_id <> b.vec_id
       |  JOIN cb2 cb ON cb.s = b.s AND cb.code = b.code),
       |adc AS (
       |  SELECT a_id, b_id, $adcSum AS approx
       |  FROM tterm GROUP BY a_id, b_id),
       |shortlist AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
       |      ORDER BY approx DESC, b_id ASC) AS ark FROM adc)
       |  WHERE ark <= 15)
       |SELECT a_id, b_id, cos_sim, rk FROM (
       |  SELECT c.a_id, c.b_id,
       |    round(${cosD("a.v", "b.v")}, 6) AS cos_sim,
       |    CAST(row_number() OVER (PARTITION BY c.a_id
       |      ORDER BY round(${cosD("a.v", "b.v")}, 6) DESC,
       |               c.b_id ASC) AS INT) AS rk
       |  FROM shortlist c JOIN e a ON c.a_id = a.vec_id
       |                   JOIN e b ON c.b_id = b.vec_id)
       |WHERE rk <= 5
       |ORDER BY a_id, rk""".stripMargin
  }

  /** q_ann_ivfpq oracle: the COMPOSED IVFADC pipeline unrolled —
    * the annIvfOracle's two coarse Lloyd iterations (micro-quantized
    * integer means) produce cells; residuals r[i] =
    * CAST(v[i] − cv[i] AS FLOAT) (one exactly-rounded op, identical
    * to the engine's double-subtract-then-float-cast); the
    * annPqOracle's two PQ training iterations run over the RESIDUAL
    * subvectors; the ADC is cell-local (candidates from the 2-probe
    * cell join only) and LEFT-ASSOCIATIVE from the centroid term:
    * dot(q, cv_cell) + t0 + … + t15 (16 subspaces × 4 dims) — SQL's
    * `+` chain mirrors the engine's foldLeft. Shortlist 45 → exact
    * cosine top-5. */
  private def ivfPqOracleSql(candPred: String): String = {
    val m = 16
    val sub = 4
    // coarse Lloyd iteration — annIvfOracle's iter(), verbatim
    def coarseIter(n: Int): String =
      s"""s$n AS (
         |  SELECT e.vec_id, c.cell, ${cosD("e.v", "c.cv")} AS sim
         |  FROM e CROSS JOIN c${n - 1} c),
         |a$n AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, cell DESC) AS rn FROM s$n)
         |  WHERE rn = 1),
         |x$n AS (SELECT a.cell, e.v FROM a$n a JOIN e USING (vec_id)),
         |m$n AS (
         |  SELECT cell, i AS pos,
         |    CAST(CAST(CAST(SUM(CAST(round(v[i] * 1000000.0, 0)
         |          AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0
         |      AS FLOAT) AS DOUBLE) AS mf
         |  FROM x$n, UNNEST(generate_series(1, len(v))) AS t(i)
         |  GROUP BY cell, i),
         |g$n AS (
         |  SELECT cell, list(mf ORDER BY pos) AS cv FROM m$n
         |  GROUP BY cell),
         |c$n AS (
         |  SELECT p.cell, COALESCE(g$n.cv, p.cv) AS cv
         |  FROM c${n - 1} p LEFT JOIN g$n USING (cell))""".stripMargin
    // PQ training iteration over the residual subvector CTE `sv` —
    // annPqOracle's trainIter, verbatim
    def trainIter(n: Int): String =
      s"""sc$n AS (
         |  SELECT s.vec_id, s.s, cb.code,
         |    2.0 * list_inner_product(s.sv, cb.cv)
         |      - list_inner_product(cb.cv, cb.cv) AS score
         |  FROM sv s JOIN cb${n - 1} cb ON cb.s = s.s),
         |pa$n AS (
         |  SELECT vec_id, s, code FROM (
         |    SELECT vec_id, s, code, row_number() OVER (
         |      PARTITION BY vec_id, s ORDER BY score DESC, code DESC)
         |      AS rn FROM sc$n)
         |  WHERE rn = 1),
         |px$n AS (
         |  SELECT a.s, a.code, s.sv FROM pa$n a
         |  JOIN sv s ON s.vec_id = a.vec_id AND s.s = a.s),
         |pm$n AS (
         |  SELECT s, code, i AS pos,
         |    CAST(CAST(CAST(SUM(CAST(round(sv[i] * 1000000.0, 0)
         |          AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0
         |      AS FLOAT) AS DOUBLE) AS mf
         |  FROM px$n, UNNEST(generate_series(1, $sub)) AS t(i)
         |  GROUP BY s, code, i),
         |pg$n AS (
         |  SELECT s, code, list(mf ORDER BY pos) AS cv FROM pm$n
         |  GROUP BY s, code),
         |cb$n AS (
         |  SELECT p.s, p.code, COALESCE(pg$n.cv, p.cv) AS cv
         |  FROM cb${n - 1} p LEFT JOIN pg$n USING (s, code))""".stripMargin
    val adcSum = (0 until m).map(s =>
      s"MAX(CASE WHEN s = $s THEN ts END)").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |  FROM embeddings WHERE vec_id < 200),
       |c0 AS (
       |  SELECT cell, v AS cv FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |      AS cell, v FROM e)
       |  WHERE cell < 8),
       |${coarseIter(1)},
       |${coarseIter(2)},
       |sf AS (
       |  SELECT e.vec_id, c.cell, ${cosD("e.v", "c.cv")} AS sim
       |  FROM e CROSS JOIN c2 c),
       |asg AS (
       |  SELECT vec_id AS b_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cell DESC) AS rn FROM sf)
       |  WHERE rn = 1),
       |prb AS (
       |  SELECT vec_id AS a_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cell DESC) AS rn FROM sf)
       |  WHERE rn <= 2),
       |res AS (
       |  SELECT e.vec_id,
       |    list_transform(generate_series(1, len(e.v)),
       |      i -> CAST(CAST(e.v[i] - c.cv[i] AS FLOAT) AS DOUBLE)) AS r
       |  FROM e JOIN asg a ON a.b_id = e.vec_id
       |  JOIN c2 c ON c.cell = a.cell),
       |sv AS (
       |  SELECT vec_id, s, r[s * $sub + 1 : s * $sub + $sub] AS sv
       |  FROM res, UNNEST(generate_series(0, ${m - 1})) AS t(s)),
       |ranked AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1
       |    AS INT) AS code
       |  FROM e ORDER BY vec_id LIMIT 16),
       |cb0 AS (
       |  SELECT r.code, s.s, s.sv AS cv
       |  FROM ranked r JOIN sv s USING (vec_id)),
       |${trainIter(1)},
       |${trainIter(2)},
       |scf AS (
       |  SELECT s.vec_id, s.s, cb.code,
       |    2.0 * list_inner_product(s.sv, cb.cv)
       |      - list_inner_product(cb.cv, cb.cv) AS score
       |  FROM sv s JOIN cb2 cb ON cb.s = s.s),
       |bcode AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (
       |      PARTITION BY vec_id, s ORDER BY score DESC, code DESC)
       |      AS rn FROM scf)
       |  WHERE rn = 1),
       |qsv AS (
       |  SELECT vec_id, s, v[s * $sub + 1 : s * $sub + $sub] AS sv
       |  FROM e, UNNEST(generate_series(0, ${m - 1})) AS t(s)),
       |cand AS (
       |  SELECT p.a_id, a.b_id, a.cell
       |  FROM prb p JOIN asg a USING (cell)
       |  JOIN e be ON be.vec_id = a.b_id
       |  WHERE p.a_id <> a.b_id AND $candPred),
       |cterm AS (
       |  SELECT c.a_id, c.b_id,
       |    list_inner_product(ea.v, cc.cv) AS tc
       |  FROM cand c JOIN e ea ON ea.vec_id = c.a_id
       |  JOIN c2 cc ON cc.cell = c.cell),
       |tterm AS (
       |  SELECT c.a_id, c.b_id, q.s, list_inner_product(q.sv, cb.cv) AS ts
       |  FROM cand c
       |  JOIN qsv q ON q.vec_id = c.a_id
       |  JOIN bcode b ON b.vec_id = c.b_id AND b.s = q.s
       |  JOIN cb2 cb ON cb.s = b.s AND cb.code = b.code),
       |adc AS (
       |  SELECT t.a_id, t.b_id, ct.tc + $adcSum AS approx
       |  FROM tterm t JOIN cterm ct
       |    ON ct.a_id = t.a_id AND ct.b_id = t.b_id
       |  GROUP BY t.a_id, t.b_id, ct.tc),
       |shortlist AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
       |      ORDER BY approx DESC, b_id ASC) AS ark FROM adc)
       |  WHERE ark <= 45)
       |SELECT a_id, b_id, cos_sim, rk FROM (
       |  SELECT c.a_id, c.b_id,
       |    round(${cosD("a.v", "b.v")}, 6) AS cos_sim,
       |    CAST(row_number() OVER (PARTITION BY c.a_id
       |      ORDER BY round(${cosD("a.v", "b.v")}, 6) DESC,
       |               c.b_id ASC) AS INT) AS rk
       |  FROM shortlist c JOIN e a ON c.a_id = a.vec_id
       |                   JOIN e b ON c.b_id = b.vec_id)
       |WHERE rk <= 5
       |ORDER BY a_id, rk""".stripMargin
  }

  private val annIvfPqOracle: String = ivfPqOracleSql("TRUE")

  /** Filtered composed index: same shared-index replay, candidate
    * side restricted to label = 1 before the ADC ranks. */
  private val annIvfPqFilteredOracle: String =
    ivfPqOracleSql("be.label = 1")

  /** DuckDB replay of the PORTABLE simhash fingerprints
    * ([[graft.operators.ApproxDedup.simhashOf]]): per distinct token,
    * a 60-bit hash from the md5 hex prefix; 60 bit-vote sums; bit j
    * of the fingerprint set iff vote j is positive (bits 60–63 are 0
    * on both engines — no token hash reaches them). Generated
    * programmatically: 60 SUM(CASE...) columns + a 60-term OR fold,
    * the same shape the engine's codegen'd SimHash64 kernel loops
    * over. */
  private val simhashFpCtes: String = {
    val votes = (0 until 60).map(j =>
      s"SUM(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n    ")
    val fold = (0 until 60).map(j =>
      s"(CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)")
      .mkString(" | ")
    s"""toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
       |    AS tok
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS th
       |  FROM toks),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fold AS simhash FROM votes)""".stripMargin
  }

  /** 3-token shingle sets from the strings themselves (hash-set
    * Jaccard equals string-set Jaccard absent 64-bit collisions);
    * greatest(len-1, 2) mirrors the engine's short-doc fallback. */
  private def shingleCte(source: String): String =
    s"""d AS (
       |  SELECT doc_id, n_docs,
       |    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 2)),
       |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |  FROM (SELECT doc_id, n_docs, string_split(text, ' ') AS toks
       |        FROM $source))""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // Hash-gated against the INDEPENDENT pure-Python codec suite
    // (tools/multimodal_oracle.py: stdlib-PNG inflate+filters, a
    // hand-written baseline-JPEG decoder with the libjpeg islow IDCT,
    // G.711/IMA-ADPCM from the public tables, Y4M + RIFF/AVI demux)
    // decoding the SAME persisted corpus bytes; the committed golden
    // CSV is what DuckDB reads. GoldenMultimodalSpec pins drift.
    "q_multimodal_pipeline" ->
      s"""SELECT * FROM read_csv('${PipelineQueries.goldenDir}/multimodal_pipeline.csv',
        |  header=true,
        |  columns={'media_id':'BIGINT','kind':'VARCHAR','dim':'INTEGER',
        |    'f0':'DOUBLE','n_frames':'BIGINT'})""".stripMargin,
    "q_ann_recall" -> annRecallOracle,
    "q_ann_lsh" -> annLshOracle,
    "q_ann_ivf" -> annIvfOracle,
    "q_ann_filtered" -> annFilteredOracle,
    "q_ann_pq" -> annPqOracle,
    "q_ann_ivfpq" -> annIvfPqOracle,
    "q_ann_ivfpq_filtered" -> annIvfPqFilteredOracle,
    // Brute-force 3-gram Jaccard over all doc pairs. Sound as the
    // LSH oracle on THIS corpus because every qualifying pair has
    // j ≥ 0.9, where 8-band/4-row recall is complete (per-pair miss
    // probability (1-j⁴)⁸ ≤ 3e-5, deterministic for fixed data) —
    // the q_dedup_incremental argument; this very gate asserts the
    // equality holds.
    "q_dedup_minhash" ->
      s"""WITH ${shingleCte("(SELECT doc_id, 1 AS n_docs, text FROM documents)")}
        |SELECT a_id, b_id, jaccard FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.3
        |ORDER BY a_id, b_id""".stripMargin,
    // Same soundness argument over content-collapsed representatives
    // (grouping by the text itself replays the engine's xxhash64
    // content collapse absent collisions).
    "q_dedup_minhash_groups" ->
      s"""WITH reps AS (
        |  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_docs, text
        |  FROM documents GROUP BY text),
        |${shingleCte("reps")}
        |SELECT a_id, b_id, jaccard, n_a, n_b FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard,
        |    a.n_docs AS n_a, b.n_docs AS n_b
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.3
        |ORDER BY a_id, b_id""".stripMargin,
    // Full fingerprint replay + brute-force hamming pair scan: equals
    // the engine's chunk-bucketed candidates EXACTLY (not just with
    // high probability) — pigeonhole completeness at hamming ≤ 3.
    "q_dedup_simhash" ->
      s"""WITH $simhashFpCtes
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_simhash_groups" ->
      s"""WITH $simhashFpCtes,
        |groups AS (
        |  SELECT simhash, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
        |  FROM fp GROUP BY simhash)
        |SELECT a.rep_id AS rep_a, b.rep_id AS rep_b,
        |  a.n_docs AS n_a, b.n_docs AS n_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM groups a JOIN groups b ON a.rep_id < b.rep_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY rep_a, rep_b""".stripMargin,
    "q_text_tokens" ->
      s"""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '${TextAnalysis.bpePattern}')) AS INT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same argmax as TextAnalysis.langId: distinct stopword types per
    // profile, highest score wins, earliest profile (en,es,de,fr)
    // breaks ties, score 0 ⇒ 'und'.
    "q_text_langid" ->
      s"""SELECT doc_id, lang,
        |  CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
        |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |       WHEN s_de >= s_fr THEN 'de'
        |       ELSE 'fr' END AS pred_lang
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_intersect(toks, ${stopList("en")})) AS s_en,
        |    len(list_intersect(toks, ${stopList("es")})) AS s_es,
        |    len(list_intersect(toks, ${stopList("de")})) AS s_de,
        |    len(list_intersect(toks, ${stopList("fr")})) AS s_fr
        |  FROM (SELECT doc_id, lang,
        |          string_split_regex(lower(text), '\\s+') AS toks
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin,
    // Exact bigram Jaccard from the strings themselves: hash-set
    // Jaccard equals string-set Jaccard absent xxhash64 collisions,
    // so the hashed-kernel engine result is directly checkable.
    // Threshold applies to the bare int-ratio Jaccard on both sides
    // (bit-identical as a single IEEE division — rule 10; a rounded
    // value at the threshold could flip pair membership).
    // greatest(len, 2) mirrors the engine's <n-token fallback (a doc
    // shorter than the window emits ONE window of all its tokens —
    // range(1, 2) = [1] and the slice clamps to the available run).
    "q_dedup_ngram" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(toks), 2)),
        |      i -> array_to_string(toks[i:i+1], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents WHERE doc_id < 300))
        |SELECT a_id, b_id, jaccard FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.2
        |ORDER BY a_id, b_id""".stripMargin,
    // String-shingle replay of the hashed-kernel containment (equal
    // absent collisions, like q_dedup_ngram); n=3 windows with the
    // same short-doc one-window fallback as the engine kernel.
    "q_dedup_containment" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 1, 2)),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents WHERE doc_id < 300))
        |SELECT a_id, b_id, containment FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(a.sh) AS containment
        |  FROM d a JOIN d b ON a.doc_id <> b.doc_id)
        |WHERE containment >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_exact_incremental" ->
      """WITH newb AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
        |  UNION ALL
        |  SELECT doc_id + 1000, text FROM documents WHERE doc_id < 20)
        |SELECT n.doc_id FROM newb n
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id < 400 AND md5(c.text) = md5(n.text))
        |ORDER BY n.doc_id""".stripMargin,
    // Brute-force cross-slice 3-gram Jaccard (string shingles; the
    // engine's hashed-shingle Jaccard is equal absent collisions).
    "q_dedup_incremental" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 2)),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents))
        |SELECT new_id, corpus_id, jaccard FROM (
        |  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM (SELECT * FROM d WHERE doc_id >= 400) a
        |  JOIN (SELECT * FROM d WHERE doc_id < 400) b ON true)
        |WHERE jaccard >= 0.3
        |ORDER BY new_id, corpus_id""".stripMargin,
    // Connected components as a recursive CTE: reach(id, r) is the
    // transitive closure over the symmetrized near-dup edges (same
    // bigram-Jaccard pair derivation as q_dedup_ngram, threshold
    // 0.10); comp = MIN(reachable id) matches min-label propagation's
    // fixpoint exactly.
    "q_dedup_clusters" -> clustersOracle,
    "q_dedup_canonical" -> canonicalOracle,
    // Identical oracle: both component implementations (label
    // propagation, star contraction) must produce the same clusters.
    "q_dedup_clusters_star" -> clustersOracle,
    // Portable md5 split: first 32 md5 bits of the key's string form,
    // mod 100 — Spark's conv(substring(md5,1,8),16,10) and DuckDB's
    // ('0x'||…)::BIGINT decode the same hex to the same bucket.
    "q_sample_split" ->
      """SELECT split, COUNT(*) AS n FROM (
        |  SELECT CASE WHEN b < 90 THEN 'train'
        |              WHEN b < 95 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM (SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |               % 100 AS b
        |        FROM documents))
        |GROUP BY split ORDER BY split""".stripMargin,
    // Quantization diagnostics: scale = max|x|/127 (float max is
    // exact, widening exact), deq_i = round(x_i/scale)*scale, all in
    // IEEE double with round-half-away ties on both engines; dot
    // products are sequential double accumulations in list order
    // (DotProductFF == list_inner_product over DOUBLE[], bit-equal).
    "q_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    CAST(greatest(list_max(list_transform(embedding, x -> abs(x))),
        |                  CAST(1e-12 AS FLOAT)) AS DOUBLE) / 127.0 AS scale
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id, e, scale,
        |    list_transform(e, x -> round(x / scale, 0) * scale) AS deq
        |  FROM s)
        |SELECT vec_id,
        |  round(scale, 8) AS scale_r,
        |  CAST(len(e) AS INT) AS dim,
        |  round(list_max(list_transform(range(1, len(e) + 1),
        |    i -> abs(e[i] - deq[i]))), 8) AS max_abs_err_r,
        |  round(list_inner_product(e, deq) /
        |        (sqrt(list_inner_product(e, e)) *
        |         sqrt(list_inner_product(deq, deq))), 6) AS cos_recon_r
        |FROM d ORDER BY vec_id""".stripMargin,
    // α=1/2 temperature rates: every step a single correctly-rounded
    // IEEE op, admission via the shared portable-md5 bucket.
    "q_mix_temperature" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |r AS (
        |  SELECT lang, n_docs,
        |    CAST(floor(100.0 *
        |      sqrt((SELECT CAST(MIN(n_docs) AS DOUBLE) FROM c)) /
        |      sqrt(CAST(n_docs AS DOUBLE))) AS INT) AS rate
        |  FROM c),
        |a AS (
        |  SELECT d.lang, COUNT(*) AS n_admitted
        |  FROM documents d JOIN r USING (lang)
        |  WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |        % 100 < r.rate
        |  GROUP BY d.lang)
        |SELECT r.lang, r.n_docs, r.rate,
        |  COALESCE(a.n_admitted, CAST(0 AS BIGINT)) AS n_admitted
        |FROM r LEFT JOIN a USING (lang) ORDER BY lang""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE (rn - 1) % 5 = 0 ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      """SELECT doc_id, lang,
        |  CAST(floor((cum - t) / 2048) AS INT) AS window_id,
        |  CAST((cum - t) % 2048 AS INT) AS offset_in_window
        |FROM (
        |  SELECT doc_id, lang, t,
        |    SUM(t) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT doc_id, lang,
        |          len(string_split(text, ' ')) AS t FROM documents))
        |ORDER BY doc_id""".stripMargin,
    // Exact FFD replay: a recursive CTE walks each shard's documents
    // in the same (tokens DESC, doc_id) order, carrying the bin-load
    // LIST; first-fit = min subscript whose load still fits (unnest +
    // generate_subscripts — duckdb's lambda fns mis-evaluate inside
    // recursive CTEs, so no list_transform here). One row per shard
    // per step keeps the recursion linear.
    "q_pack_batches" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, lang, t,
        |    CAST(floor((row_number() OVER (PARTITION BY lang
        |      ORDER BY t DESC, doc_id) - 1) / 16) AS BIGINT) AS bs,
        |    CAST(floor((row_number() OVER (PARTITION BY lang
        |      ORDER BY doc_id) - 1) / 16) AS BIGINT) AS ba
        |  FROM t),
        |s AS (
        |  SELECT lang, bs AS batch_id, COUNT(*) AS n_docs,
        |    MAX(t) AS max_t_sorted,
        |    COUNT(*) * MAX(t) - CAST(SUM(t) AS BIGINT) AS pad_sorted
        |  FROM a GROUP BY lang, bs),
        |r AS (
        |  SELECT lang, ba AS batch_id, MAX(t) AS max_t_arrival,
        |    COUNT(*) * MAX(t) - CAST(SUM(t) AS BIGINT) AS pad_arrival
        |  FROM a GROUP BY lang, ba)
        |SELECT s.lang, s.batch_id, s.n_docs, s.max_t_sorted,
        |  s.pad_sorted, r.max_t_arrival, r.pad_arrival
        |FROM s JOIN r ON s.lang = r.lang AND s.batch_id = r.batch_id
        |ORDER BY s.lang, s.batch_id""".stripMargin,
    "q_pack_ffd" ->
      """WITH RECURSIVE docs AS (
        |  SELECT lang AS shard, doc_id, (n_chars // 4 + 1) AS tokens,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY (n_chars // 4 + 1) DESC, doc_id) AS rn
        |  FROM documents
        |),
        |pack AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS rn,
        |         CAST([] AS BIGINT[]) AS loads,
        |         CAST(NULL AS BIGINT) AS doc_id,
        |         CAST(NULL AS BIGINT) AS tokens,
        |         CAST(NULL AS INTEGER) AS bin_id
        |  FROM (SELECT DISTINCT shard FROM docs)
        |  UNION ALL
        |  SELECT shard, rn,
        |         CASE WHEN fit_idx IS NULL THEN list_append(loads, tokens)
        |              ELSE loads[1:fit_idx-1] || [loads[fit_idx] + tokens]
        |                   || loads[fit_idx+1:]
        |         END,
        |         doc_id, tokens,
        |         CAST(coalesce(fit_idx, len(loads) + 1) - 1 AS INTEGER)
        |  FROM (
        |    SELECT d.shard, d.rn, p.loads, d.doc_id, d.tokens,
        |           (SELECT min(u.ord)
        |            FROM (SELECT unnest(p.loads) AS l,
        |                         generate_subscripts(p.loads, 1) AS ord) u
        |            WHERE u.l + d.tokens <= 512) AS fit_idx
        |    FROM pack p JOIN docs d ON d.shard = p.shard AND d.rn = p.rn + 1
        |  )
        |)
        |SELECT shard, doc_id, tokens, bin_id FROM pack
        |WHERE rn > 0 ORDER BY shard, doc_id""".stripMargin,
    // n_chunks: distinct 8-token stride-8 windows (full windows only);
    // fp_dupes: docs sharing the whitespace-normalized lowercase text
    // — what sharing the whole-doc xxhash64 fingerprint means.
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN len(toks) >= 8 THEN
        |    len(list_distinct(list_transform(
        |      range(1, len(toks) - 6, 8),
        |      i -> array_to_string(toks[i:i+7], ' '))))
        |    ELSE 0 END AS INT) AS n_chunks,
        |  CAST(COUNT(*) OVER (PARTITION BY norm) AS INT) AS fp_dupes
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks,
        |        regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // Full BPE replay oracles (graft.operators.BpeOracle): training
    // rounds unrolled as CTEs, encode as the same rewrite over
    // weight-0 words. The sample predicate mirrors
    // Bpe.trainOnSample's "200 lowest doc ids".
    "q_text_tokens_bpe" ->
      graft.operators.BpeOracle.tokenCountsSql(120, bpeSamplePred),
    "q_bpe_train" -> graft.operators.BpeOracle.mergeTableSql(32),
    "q_unigram_train" -> graft.operators.UnigramOracle.vocabSql,
    "q_tokenizer_eval" -> graft.operators.UnigramOracle.fertilitySql,
    "q_text_tokens_unigram" ->
      graft.operators.UnigramOracle.tokenCountSql,
    "q_pack_sequences_bpe" ->
      graft.operators.BpeOracle.packSql(120, bpeSamplePred, 2048)
  )

  private val bpeSamplePred =
    "doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200)"
}
