package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import graft.sources.TxTable

/** Transactional-table queries: the snapshot-isolated commit log
  * ([[graft.sources.TxTable]]) exercised end-to-end under the hash
  * gate. The fixture builds a four-version table from the
  * `documents` fixture — create, append, copy-on-write MERGE,
  * compaction — and the gated key reads EVERY version back (time
  * travel), proving the manifest log preserves each historical
  * state byte-exactly and that compaction is content-neutral. The
  * DuckDB oracle replays the logical content of each version
  * directly from `documents` — if any commit leaked rows, lost an
  * update, or compaction changed content, the per-version aggregates
  * diverge.
  *
  * Versions (all derived deterministically from `documents`):
  *   v1 create : doc_id % 3 = 0
  *   v2 append : doc_id % 3 = 1
  *   v3 merge  : update text -> text || ' v3' where doc_id % 6 = 0;
  *               insert doc_id % 3 = 2 AND doc_id < 60
  *   v4 compact: content-identical rewrite of v3
  */
object TxQueries {

  /** Build-once-per-JVM fixture table (unique tmp dir per JVM run, so
    * stale tables from previous processes can't skew version
    * numbers). Registered through DerivedCache.memoValue so Bench
    * attributes the one-time build to build_sec, like every other
    * shared index. */
  private def fixtureTable(s: SparkSession, d: String): String =
    graft.operators.DerivedCache.memoValue(s, s"tx_table_fixture:$d") {
      val dir = SparkEntry.tempDir("graft_txtable_")
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      require(TxTable.create(
        docs.filter(col("doc_id") % 3 === 0), dir), "create lost its CAS")
      TxTable.append(docs.filter(col("doc_id") % 3 === 1), dir)
      val updates = docs.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id"), col("lang"),
          concat(col("text"), lit(" v3")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 3 === 2 &&
          col("doc_id") < 60))
      TxTable.merge(s, dir, updates)
      require(TxTable.compact(s, dir).contains(4L),
        "compact must land as v4")
      dir
    }

  /** Second fixture for the schema-evolution key: v1 create (4
    * columns, `score` FLOAT), v2 appendEvolve adding a `source`
    * column (column evolution), v3 appendEvolve carrying `score` as
    * DOUBLE (safe TYPE WIDENING — pre-v3 float files read up through
    * parquet's native promotion, no rewrite). Built once per JVM
    * through DerivedCache like the main fixture. Score values are
    * exact in both widths (integers and integer+0.5 halves), so the
    * double sums are order-independent and DuckDB-replayable. */
  private def evoTable(s: SparkSession, d: String): String =
    graft.operators.DerivedCache.memoValue(s, s"tx_evo_fixture:$d") {
      val dir = SparkEntry.tempDir("graft_txevo_")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      require(TxTable.create(
        docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("lang"), col("text"),
            col("n_chars").cast("float").as("score")),
        dir), "create lost its CAS")
      TxTable.appendEvolve(docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("lang"), col("text"),
          col("n_chars").cast("float").as("score"),
          concat(lit("s:"), col("lang")).as("source")), dir)
      TxTable.appendEvolve(docs.filter(col("doc_id") % 3 === 2 &&
          col("doc_id") < 60)
        .select(col("doc_id"), col("lang"), col("text"),
          (col("n_chars").cast("double") + lit(0.5)).as("score"),
          concat(lit("s:"), col("lang")).as("source")), dir)
      dir
    }

  /** Third fixture, for the row-level DELETE keys: v1 create
    * (doc_id%3=0), v2 append (%3=1), v3 DELETE WHERE lang='de' OR
    * doc_id%7=3 (copy-on-write, file-pruned), v4 compact. Shared by
    * q_corpus_delete (per-version fingerprints) and
    * q_corpus_delete_feed (change-feed replay). */
  private def delTable(s: SparkSession, d: String): String =
    graft.operators.DerivedCache.memoValue(s, s"tx_del_fixture:$d") {
      val dir = SparkEntry.tempDir("graft_txdel_")
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      require(TxTable.create(
        docs.filter(col("doc_id") % 3 === 0), dir), "create lost its CAS")
      TxTable.append(docs.filter(col("doc_id") % 3 === 1), dir)
      require(TxTable.delete(s, dir,
        col("lang") === "de" || col("doc_id") % 7 === 3) == 3L,
        "delete must land as v3")
      require(TxTable.compact(s, dir).contains(4L),
        "compact must land as v4")
      // v5: the delete turns out overbroad — RESTORE to the
      // pre-delete state, reusing v2's immutable files (no data IO)
      require(TxTable.restore(s, dir, 2L) == 5L,
        "restore must land as v5")
      dir
    }

  /** SQL-surface fixture: the SAME lifecycle as [[delTable]]'s first
    * four versions, but every verb after the creates is issued
    * through `spark.sql(...)` against the `tx.`path`` virtual schema
    * ([[graft.plans.TxSqlSupport]]) — v3 is a SQL `DELETE FROM`
    * (same predicate as the API fixture), v4 a SQL `RESTORE … TO
    * VERSION 2`. The statements' own result rows (committed
    * versions) are require-checked at build time. */
  private def sqlTable(s: SparkSession, d: String): String =
    graft.operators.DerivedCache.memoValue(s, s"tx_sql_fixture:$d") {
      val dir = SparkEntry.tempDir("graft_txsql_")
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      require(TxTable.create(
        docs.filter(col("doc_id") % 3 === 0), dir), "create lost its CAS")
      TxTable.append(docs.filter(col("doc_id") % 3 === 1), dir)
      val v3 = s.sql(
        s"DELETE FROM tx.`$dir` WHERE lang = 'de' OR doc_id % 7 = 3")
        .head.getLong(0)
      require(v3 == 3L, s"SQL DELETE must land as v3, got $v3")
      val v4 = s.sql(s"RESTORE TABLE tx.`$dir` TO VERSION 2")
        .head.getLong(0)
      require(v4 == 4L, s"SQL RESTORE must land as v4, got $v4")
      dir
    }

  /** SQL-DML fixture: the WRITE side of the SQL face — v2 `INSERT
    * INTO … SELECT`, v3 `UPDATE … SET … WHERE` (the copy-on-write
    * [[TxTable.update]] verb), v4 canonical `MERGE INTO … UPDATE SET
    * * / INSERT *`, v5 `INSERT OVERWRITE`. Every statement's
    * committed version is require-checked. The merge source's
    * matched keys (doc_id%12=4) are disjoint from v3's update set
    * (%6=0 is even, %12=4 is ≡4 mod 6), so the oracle replay is
    * unambiguous. */
  private def dmlTable(s: SparkSession, d: String): String =
    graft.operators.DerivedCache.memoValue(s, s"tx_dml_fixture:$d") {
      val dir = SparkEntry.tempDir("graft_txdml_")
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      docs.createOrReplaceTempView("graft_dml_docs")
      require(TxTable.create(
        docs.filter(col("doc_id") % 3 === 0), dir), "create lost its CAS")
      def one(sql: String): Long = s.sql(sql).head.getLong(0)
      require(one(
        s"""INSERT INTO tx.`$dir`
           |SELECT doc_id, lang, text FROM graft_dml_docs
           |WHERE doc_id % 3 = 1""".stripMargin) == 2L,
        "SQL INSERT must land as v2")
      require(one(
        s"""UPDATE tx.`$dir` SET text = concat(text, ' u3')
           |WHERE doc_id % 6 = 0""".stripMargin) == 3L,
        "SQL UPDATE must land as v3")
      require(one(
        s"""MERGE INTO tx.`$dir` t
           |USING (SELECT doc_id, lang, concat('m: ', text) AS text
           |       FROM graft_dml_docs
           |       WHERE doc_id % 12 = 4
           |          OR (doc_id % 3 = 2 AND doc_id < 40)) s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin) == 4L,
        "SQL MERGE must land as v4")
      require(one(
        s"""INSERT OVERWRITE tx.`$dir`
           |SELECT doc_id, lang, text FROM graft_dml_docs
           |WHERE doc_id % 5 = 0""".stripMargin) == 5L,
        "SQL INSERT OVERWRITE must land as v5")
      dir
    }

  /** Fifth fixture, for the clustered-compaction/file-skipping key:
    * v1 create (%3=0, hash-bucketed), v2 append (%3=1), v3 CLUSTERED
    * compaction (range-partitioned + sorted on doc_id) — the layout
    * that makes the manifest's per-file [min,max] stats selective,
    * so [[TxTable.readKeyRange]] skips files at the MANIFEST level. */
  private def clusterTable(s: SparkSession, d: String): String =
    graft.operators.DerivedCache.memoValue(s, s"tx_cluster_fixture:$d") {
      val dir = SparkEntry.tempDir("graft_txclust_")
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      require(TxTable.create(
        docs.filter(col("doc_id") % 3 === 0), dir), "create lost its CAS")
      TxTable.append(docs.filter(col("doc_id") % 3 === 1), dir)
      // clustered compaction driven from SQL — the OPTIMIZE verb is
      // the notebook face of TxTable.compact(rangeCluster = true);
      // the key's oracle is unchanged (compaction is content-neutral)
      require(s.sql(s"OPTIMIZE tx.`$dir` ZORDER BY (doc_id)")
        .head.getLong(0) == 3L, "clustered OPTIMIZE must land as v3")
      dir
    }

  /** Multi-column-stats fixture: ONE table whose history carries the
    * three clustered layouts the manifest stats serve — v1 create
    * (hash-bucketed on the STRING id), v2 range-clustered compaction
    * on the string id (string `[min,max]` per file turn selective),
    * v3 Z-ORDER clustered compaction on (x, y) with per-column stats
    * (each file owns a Z-curve tile, tight on BOTH dimensions).
    * Compactions are content-neutral, so every version's logical
    * content is the same `documents` slice — the oracle replays it
    * once and the pruned reads must match it exactly. */
  private def multiClusterTable(s: SparkSession, d: String): String =
    graft.operators.DerivedCache.memoValue(s, s"tx_mcluster_fixture:$d") {
      val dir = SparkEntry.tempDir("graft_txmclust_")
      val docs = Tables.documents(s, d).select(
        format_string("doc_%06d", col("doc_id")).as("id_str"),
        (col("doc_id") % 32).as("x"),
        expr("(doc_id div 32) % 32").as("y"),
        col("doc_id"), col("text"))
        .filter(col("doc_id") % 3 < 2)
        // event time DECORRELATED from the id (doc_id·7919 % 365
        // scatters days): the (string id, time) Z-order below is a
        // genuine 2-D layout — either single-column sort would leave
        // the other column spanning its whole range per file
        .withColumn("ts", timestamp_micros(
          (lit(18262L) + (col("doc_id") * 7919) % 365) * 86400000000L +
            (col("doc_id") % 24) * 3600000000L))
      require(TxTable.create(docs, dir, bucketKey = "id_str",
        buckets = 4), "create lost its CAS")
      // BOTH clustered layouts driven from SQL (the OPTIMIZE verb):
      // one ZORDER column = range-clustered on it (string [min,max]
      // stats turn selective), two = the Z-curve interleave with
      // per-column stats tight on both dims. Content-neutral, so the
      // key's oracle replays the same slice either way.
      require(s.sql(s"OPTIMIZE tx.`$dir` ZORDER BY (id_str)")
        .head.getLong(0) == 2L,
        "string-clustered OPTIMIZE must land as v2")
      require(s.sql(s"OPTIMIZE tx.`$dir` ZORDER BY (x, y)")
        .head.getLong(0) == 3L,
        "z-ordered OPTIMIZE must land as v3")
      // v4 MIXED-TYPE Z-order (r15): interleave an ORDER-PRESERVING
      // integer image of the string id (its numeric suffix — the id
      // space's own order) with the day index, then collect stats on
      // the REAL columns (id_str as string bounds, ts as micros
      // longs) — the layout a (string id, time)-sliced corpus read
      // compounds pruning on. The Scala clusterBy face, since bit
      // interleave needs integral images (SQL OPTIMIZE's documented
      // int-only contract).
      require(TxTable.compact(s, dir, bucketKey = "id_str",
        buckets = 16,
        clusterBy = Some(graft.functions.ZOrder.z16(
          expr("doc_id % 65536"),
          (col("doc_id") * 7919) % 365)),
        statsCols = Seq("id_str", "ts")).contains(4L),
        "mixed z-ordered compaction must land as v4")
      dir
    }

  /** Time-keyed fixture: event time is the single most common
    * clustering key in log pipelines (the reference's own domain —
    * epoch-millis Kinesis events, kinesis-to-humio.py:147). v1
    * hash-bucketed create; v2 DATE-range-clustered compaction with
    * TIMESTAMP stats — per-file `[min,max]` land as epoch days/micros
    * longs (TxTable pins TIMESTAMP_MICROS on write: Spark's INT96
    * default carries NO footer stats). dt and ts derive
    * deterministically from doc_id, so DuckDB replays every slice
    * with pure integer arithmetic. */
  private def timeClusterTable(s: SparkSession, d: String): String =
    graft.operators.DerivedCache.memoValue(s, s"tx_tcluster_fixture:$d") {
      val dir = SparkEntry.tempDir("graft_txtclust_")
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .withColumn("dt", date_add(to_date(lit("2020-01-01")),
          (col("doc_id") % 365).cast("int")))
        .withColumn("ts", timestamp_micros(
          unix_date(col("dt")).cast("long") * 86400000000L +
            (col("doc_id") % 24).cast("long") * 3600000000L))
        // DECIMAL money key (r15): price in cents/100, monotone in
        // the day offset (so the dt-clustered layout keeps per-file
        // decimal [min,max] tight) and NEGATIVE for early days — the
        // sign the unscaled-long stats path must order correctly.
        // cents = (doc_id%365 − 100)·100 + doc_id%7 replays in DuckDB
        // as pure integer arithmetic.
        .withColumn("price",
          (((col("doc_id") % 365 - 100) * 100 + col("doc_id") % 7)
            .cast("decimal(14,0)") / 100).cast("decimal(12,2)"))
      require(TxTable.create(docs, dir, bucketKey = "doc_id",
        buckets = 4), "create lost its CAS")
      require(TxTable.compact(s, dir, bucketKey = "dt", buckets = 8,
        rangeCluster = true, statsCols = Seq("ts", "price"))
        .contains(2L),
        "date-clustered compaction must land as v2")
      dir
    }

  /** Fourth fixture, for the retention-vacuum key — DESTRUCTIVE
    * (expires history), so it gets its own table: v1 create (%3=0),
    * v2 delete (%5=0), v3 compact, then vacuumRetain(keep=2) expiring
    * v1 and reaping its dead rewritten files. Returns the table dir
    * plus the driver-observed audit flags, all computed exactly once
    * inside the memo. */
  private def vacAudit(s: SparkSession, d: String)
      : (String, java.lang.Long, java.lang.Long, java.lang.Long,
         java.lang.Long) =
    graft.operators.DerivedCache.memoValue(s, s"tx_vac_fixture:$d") {
      val dir = SparkEntry.tempDir("graft_txvac_")
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      require(TxTable.create(
        docs.filter(col("doc_id") % 3 === 0), dir), "create lost its CAS")
      require(TxTable.delete(s, dir, col("doc_id") % 5 === 0) == 2L,
        "delete must land as v2")
      require(TxTable.compact(s, dir).contains(3L),
        "compact must land as v3")
      val first = TxTable.vacuumRetain(dir, keepVersions = 2, graceMs = 0L)
      val second = TxTable.vacuumRetain(dir, keepVersions = 2, graceMs = 0L)
      val v1Fails =
        try { TxTable.read(s, dir, Some(1L)); 0L }
        catch { case _: IllegalArgumentException => 1L }
      (dir, Long.box(first.expiredManifests.toLong),
        Long.box(if (first.removedDataFiles > 0) 1L else 0L),
        Long.box(if (second == TxTable.VacuumStats(0, 0)) 1L else 0L),
        Long.box(v1Fails))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-version aggregate fingerprint over the full manifest
    // history: rows, chars, id-sum at every pinned version. Scale:
    // each version read is a plain parquet scan of that manifest's
    // files; the aggregates are single-pass map-combined.
    "q_corpus_snapshot" -> ((s, d) => {
      val t = fixtureTable(s, d)
      (1L to 4L).map { v =>
        TxTable.read(s, t, Some(v))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("n_chars"),
            sum(col("doc_id")).as("sum_ids"))
          .select(lit(v).as("version"), col("n_docs"),
            col("n_chars"), col("sum_ids"))
      }.reduce(_ unionByName _)
        .orderBy("version")
    }),

    // Row-level change feed (CDC) across the same manifest history:
    // per-transition insert/delete counts and fingerprint sums for
    // the adjacent pairs AND the composed (1→4) range. The gate
    // proves, against an independent EXCEPT ALL replay in DuckDB,
    // that (a) an append's feed is exactly the appended rows, (b) a
    // copy-on-write MERGE nets out to delete(old)+insert(new) per
    // updated key plus plain inserts — rewrite noise cancels, (c) a
    // compaction emits ZERO changes (the 3→4 row hashes as explicit
    // zeros), and (d) a multi-version range feed equals the net diff
    // (catch-up consumers skip intermediate rewrites). Scale: each
    // feed reads only the transition's touched files; the append
    // transition takes the shuffle-free fast path.
    "q_corpus_changes" -> ((s, d) => {
      val t = fixtureTable(s, d)
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).map { case (f, v) =>
        val isIns = col("_change") === "insert"
        TxTable.changes(s, t, f, v).agg(
          coalesce(sum(when(isIns, 1L)), lit(0L)).as("n_insert"),
          coalesce(sum(when(!isIns, 1L)), lit(0L)).as("n_delete"),
          coalesce(sum(when(isIns, col("doc_id"))), lit(0L))
            .as("insert_id_sum"),
          coalesce(sum(when(!isIns, col("doc_id"))), lit(0L))
            .as("delete_id_sum"),
          coalesce(sum(when(isIns, length(col("text")).cast("long"))),
            lit(0L)).as("insert_chars"))
          .select(lit(f).as("from_version"), lit(v).as("to_version"),
            col("n_insert"), col("n_delete"), col("insert_id_sum"),
            col("delete_id_sum"), col("insert_chars"))
      }.reduce(_ unionByName _)
        .orderBy("from_version", "to_version")
    }),

    // INCREMENTAL VIEW MAINTENANCE over the change feed: per-version
    // corpus aggregates maintained WITHOUT ever rescanning a
    // snapshot past v1 — each transition's feed aggregates to ONE
    // signed delta row (insert = +1, delete = −1; sums over an
    // abelian group commute with the diff), and the per-commit
    // deltas fold in version order via the distributed PrefixSum
    // primitive (no unpartitioned window). The gate is the IVM
    // theorem made executable: the maintained state at every version
    // hash-equals q_corpus_snapshot's DIRECT per-version replay. At
    // 100 TB this is the nightly-stats pattern: the feed costs the
    // day's churn, the fold costs one row per commit.
    "q_corpus_ivm" -> ((s, d) => {
      val t = fixtureTable(s, d)
      val base = TxTable.read(s, t, Some(1L))
        .select(lit(1L).as("version"), lit(1L).as("w"),
          col("doc_id"), col("text"))
      val feeds = (1L to 3L).map { k =>
        TxTable.changes(s, t, k, k + 1)
          .select(lit(k + 1).as("version"),
            when(col("_change") === "insert", 1L).otherwise(-1L).as("w"),
            col("doc_id"), col("text"))
      }
      val deltas = (base +: feeds).reduce(_ unionByName _)
        .groupBy("version")
        .agg(sum(col("w")).as("d_docs"),
          sum(col("w") * length(col("text")).cast("long")).as("d_chars"),
          sum(col("w") * col("doc_id")).as("d_ids"))
      // version spine: an empty feed (the compaction transition)
      // contributes no delta row but must still carry a version
      val padded = s.range(1L, 5L).select(col("id").as("version"))
        .join(deltas, Seq("version"), "left")
        .select(col("version"),
          coalesce(col("d_docs"), lit(0L)).as("d_docs"),
          coalesce(col("d_chars"), lit(0L)).as("d_chars"),
          coalesce(col("d_ids"), lit(0L)).as("d_ids"))
      val folded = graft.operators.PrefixSum.prefixSums(padded,
        Seq(col("d_docs") -> "n_docs", col("d_chars") -> "n_chars",
          col("d_ids") -> "sum_ids"), col("version"))
      folded.select("version", "n_docs", "n_chars", "sum_ids")
        .orderBy("version")
    }),

    // SCHEMA EVOLUTION under the hash gate, both axes: v2 widened
    // the table with a `source` COLUMN (appendEvolve — no data
    // rewrite; old files read the new column as NULL) and v3 widened
    // `score`'s TYPE float→double (safe widening — pre-v3 files read
    // UP through parquet's native promotion, still no rewrite). Time
    // travel stays schema-pinned on BOTH axes: v1 has no source
    // column and v1/v2 keep score at FLOAT width (asserted at
    // plan-build time). The per-version fingerprints prove old rows
    // carry NULL source, score sums survive the widening exactly
    // (all values are integers or integer+0.5 — exact in either
    // width), and history replays with its own schema.
    "q_corpus_schema_evolution" -> ((s, d) => {
      val t = evoTable(s, d)
      val v1 = TxTable.read(s, t, Some(1L))
      require(!v1.columns.contains("source"),
        "time travel leaked a column that did not exist at v1")
      val v2 = TxTable.read(s, t, Some(2L))
      val v3 = TxTable.read(s, t, Some(3L))
      import org.apache.spark.sql.types.{DoubleType, FloatType}
      require(v1.schema("score").dataType == FloatType &&
        v2.schema("score").dataType == FloatType,
        "time travel leaked the widened type into pre-widening history")
      require(v3.schema("score").dataType == DoubleType,
        "v3 must carry the widened score type")
      val r1 = v1.agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          sum(col("score").cast("double")).as("score_sum"))
        .select(lit(1L).as("version"), col("n_docs"), col("n_chars"),
          lit(0L).as("n_source"), col("score_sum"),
          lit(0L).as("score_is_double"))
      val r2 = v2.agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          count(col("source")).as("n_source"),
          sum(col("score").cast("double")).as("score_sum"))
        .select(lit(2L).as("version"), col("n_docs"), col("n_chars"),
          col("n_source"), col("score_sum"), lit(0L).as("score_is_double"))
      val r3 = v3.agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          count(col("source")).as("n_source"),
          sum(col("score")).as("score_sum"))
        .select(lit(3L).as("version"), col("n_docs"), col("n_chars"),
          col("n_source"), col("score_sum"), lit(1L).as("score_is_double"))
      r1.unionByName(r2).unionByName(r3).orderBy("version")
    }),

    // Row-level DELETE under the hash gate: per-version fingerprints
    // across create → append → DELETE WHERE (lang='de' OR doc_id%7=3)
    // → compact. The v3-vs-v2 drop is exactly the predicate's rows
    // (snapshot-before/after), v4 proves delete∘compact is
    // content-neutral, and pre-delete history replays untouched
    // (time travel). Scale: the delete rewrote ONLY the files
    // containing matches (file-set pruned via the pushed-down
    // predicate scan); each version read here is a plain parquet
    // scan of that manifest's files.
    "q_corpus_delete" -> ((s, d) => {
      val t = delTable(s, d)
      (1L to 4L).map { v =>
        TxTable.read(s, t, Some(v))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("n_chars"),
            sum(col("doc_id")).as("sum_ids"))
          .select(lit(v).as("version"), col("n_docs"),
            col("n_chars"), col("sum_ids"))
      }.reduce(_ unionByName _)
        .orderBy("version")
    }),

    // The DELETE's change feed, replayed independently in DuckDB via
    // EXCEPT ALL: the 2→3 transition must be PURE NET DELETES (the
    // copy-on-write rewrite noise of kept rows in touched files
    // cancels in the signed multiset diff), 3→4 (compaction) must be
    // zeros, and the composed 1→4 range must net the appends against
    // the deletes. This is the takedown-compliance audit a corpus
    // team replays downstream: the feed IS the deletion evidence.
    "q_corpus_delete_feed" -> ((s, d) => {
      val t = delTable(s, d)
      val isIns = col("_change") === "insert"
      Seq((2L, 3L), (3L, 4L), (1L, 4L)).map { case (f, v) =>
        TxTable.changes(s, t, f, v).agg(
          coalesce(sum(when(isIns, 1L)), lit(0L)).as("n_insert"),
          coalesce(sum(when(!isIns, 1L)), lit(0L)).as("n_delete"),
          coalesce(sum(when(isIns, col("doc_id"))), lit(0L))
            .as("insert_id_sum"),
          coalesce(sum(when(!isIns, col("doc_id"))), lit(0L))
            .as("delete_id_sum"))
          .select(lit(f).as("from_version"), lit(v).as("to_version"),
            col("n_insert"), col("n_delete"), col("insert_id_sum"),
            col("delete_id_sum"))
      }.reduce(_ unionByName _)
        .orderBy("from_version", "to_version")
    }),

    // RETENTION-BOUNDED VACUUM audit: keepVersions=2 over a
    // create → delete → compact history expires exactly v1's
    // manifest, reaps its dead rewritten files (the compaction's
    // copy-on-write garbage), leaves every retained version
    // bit-replayable, reads of expired history failing CLEANLY, and
    // a re-vacuum finding nothing (idempotence). The content rows
    // (v2/v3 fingerprints) are computed DISTRIBUTED over the
    // post-vacuum table — if the reaper touched a live file, these
    // diverge from the oracle's replay; the audit flags are
    // driver-observed metadata counts (bounded O(1) state from the
    // vacuum run itself).
    // RESTORE under the hash gate: v5 rolls the table back to the
    // pre-delete v2 by REUSING v2's immutable files (no data IO —
    // one manifest commit), history intact. The gate fingerprints
    // v2/v4/v5 (v5 must equal v2 exactly) and the 4→5 change feed
    // (pure RE-INSERTS of exactly the deleted rows, zero deletes) —
    // the undo verb's evidence, replayed independently in DuckDB.
    "q_corpus_restore" -> ((s, d) => {
      val t = delTable(s, d)
      val fps = Seq(2L, 4L, 5L).map { v =>
        TxTable.read(s, t, Some(v))
          .agg(count(lit(1)).as("m1"),
            sum(length(col("text")).cast("long")).as("m2"),
            sum(col("doc_id")).as("m3"))
          .select(lit(s"v$v").as("step"), col("m1"), col("m2"),
            col("m3"))
      }
      val isIns = col("_change") === "insert"
      val feed = TxTable.changes(s, t, 4L, 5L)
        .agg(coalesce(sum(when(isIns, 1L)), lit(0L)).as("m1"),
          coalesce(sum(when(!isIns, 1L)), lit(0L)).as("m2"),
          coalesce(sum(when(isIns, col("doc_id"))), lit(0L)).as("m3"))
        .select(lit("feed_4_5").as("step"), col("m1"), col("m2"),
          col("m3"))
      (fps :+ feed).reduce(_ unionByName _).orderBy("step")
    }),

    // THE SQL SURFACE under the hash gate: the delete→restore
    // lifecycle driven entirely through spark.sql — DELETE FROM
    // (Spark's own grammar, routed to the copy-on-write delete by
    // the injected resolution rule), RESTORE (the parser extension),
    // and every read here a SQL `VERSION AS OF` time travel plus one
    // bare head read (= the restored v2 content). Same per-version
    // fingerprints as q_corpus_delete, so the oracle replays the
    // logical content straight from `documents` — if any statement
    // routed wrong (or time travel leaked the wrong snapshot), the
    // hashes diverge. Scale: identical plans to the API verbs; the
    // SQL face adds one resolution-rule rewrite, no new operators.
    "q_corpus_sql_verbs" -> ((s, d) => {
      val t = sqlTable(s, d)
      val reads = (1L to 4L).map { v =>
        s.sql(
          s"""SELECT $v AS version, COUNT(*) AS n_docs,
             |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
             |FROM tx.`$t` VERSION AS OF $v""".stripMargin)
      } :+ s.sql(
        s"""SELECT 5 AS version, COUNT(*) AS n_docs,
           |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
           |FROM tx.`$t`""".stripMargin)
      reads.reduce(_ unionByName _)
        .select(col("version").cast("long").as("version"), col("n_docs"),
          col("n_chars"), col("sum_ids"))
        .orderBy("version")
    }),

    // THE SQL WRITE PATH under the hash gate: INSERT INTO, row-level
    // UPDATE (the copy-on-write TxTable.update verb), canonical
    // MERGE INTO, and INSERT OVERWRITE — the full DML lifecycle
    // driven through spark.sql, fingerprinted per version via SQL
    // time travel, replayed logically in DuckDB. Update/merge
    // interactions are deliberately disjoint (see the fixture doc)
    // so the replay is exact.
    "q_corpus_sql_dml" -> ((s, d) => {
      val t = dmlTable(s, d)
      (1L to 5L).map { v =>
        s.sql(
          s"""SELECT $v AS version, COUNT(*) AS n_docs,
             |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
             |FROM tx.`$t` VERSION AS OF $v""".stripMargin)
      }.reduce(_ unionByName _)
        .select(col("version").cast("long").as("version"), col("n_docs"),
          col("n_chars"), col("sum_ids"))
        .orderBy("version")
    }),

    // DESCRIBE HISTORY — the audit verb, gated on its replayable
    // columns (version, op, exact manifest row count) over the SQL
    // DML lifecycle. The op sequence pins that every statement
    // routed to the verb it claims (a DELETE that silently appended
    // would flip its op), and n_rows pins the manifests' O(1) row
    // counts against DuckDB's recount of each version's content.
    "q_corpus_history" -> ((s, d) => {
      val t = dmlTable(s, d)
      s.sql(s"DESCRIBE HISTORY tx.`$t`")
        .select(col("version"), col("op"), col("n_rows"))
        .orderBy("version")
    }),

    // CLUSTERED COMPACTION + manifest-level file skipping: after the
    // range-clustered rewrite, each file owns a doc_id slice and
    // readKeyRange prunes disjoint files from the MANIFEST's
    // [min,max] stats before any parquet footer is opened (the spec
    // pins the actual skip arithmetic; at 100 TB / 100k files this
    // is manifest-read vs 100k footer opens). The gate proves the
    // pruned read is CONTENT-EXACT: an in-range slice and a fully
    // disjoint range (everything pruned → zero rows), both replayed
    // in DuckDB.
    "q_corpus_cluster_prune" -> ((s, d) => {
      val t = clusterTable(s, d)
      def slice(tag: String, lo: Long, hi: Long) =
        TxTable.readKeyRange(s, t, "doc_id", lo, hi)
          .agg(coalesce(count(lit(1)), lit(0L)).as("n_docs"),
            coalesce(sum(length(col("text")).cast("long")), lit(0L))
              .as("n_chars"),
            coalesce(sum(col("doc_id")), lit(0L)).as("sum_ids"))
          .select(lit(tag).as("range"), col("n_docs"), col("n_chars"),
            col("sum_ids"))
      slice("a_mid", 20L, 220L)
        .unionByName(slice("b_disjoint", 1000000000L, 2000000000L))
        .orderBy("range")
    }),

    // STRING-KEYED + 2-D (Z-ordered) manifest pruning under the hash
    // gate: a string-id range read against the string-clustered v2,
    // a two-column range read against the Z-ordered v3 (per-file
    // stats tight on BOTH x and y), and a disjoint string range
    // (everything pruned → the zero row). Each read skips files at
    // the MANIFEST level (TxTableSpec pins the skip arithmetic); the
    // gate proves the pruned reads are CONTENT-EXACT vs DuckDB's
    // replay of the same slices.
    "q_corpus_cluster_prune_multi" -> ((s, d) => {
      val t = multiClusterTable(s, d)
      def agg(df: DataFrame, tag: String) =
        df.agg(coalesce(count(lit(1)), lit(0L)).as("n_docs"),
          coalesce(sum(length(col("text")).cast("long")), lit(0L))
            .as("n_chars"),
          coalesce(sum(col("doc_id")), lit(0L)).as("sum_ids"))
          .select(lit(tag).as("range"), col("n_docs"), col("n_chars"),
            col("sum_ids"))
      agg(TxTable.readKeyRangeString(s, t, "id_str",
          "doc_000010", "doc_000040", version = Some(2L)), "a_str")
        .unionByName(agg(TxTable.readKeyRanges(s, t,
          Map("x" -> (0L, 7L), "y" -> (1L, 7L)),
          version = Some(3L)), "b_2d"))
        .unionByName(agg(TxTable.readKeyRangeString(s, t, "id_str",
          "zzz", "zzzz", version = Some(2L)), "c_str_disjoint"))
        .orderBy("range")
    }),

    // MIXED-TYPE (string id, time) compound pruning (r15): the v4
    // layout Z-orders an order-preserving integer image of the
    // string id with the day index, and readKeyRanges prunes each
    // file on BOTH dims — string bounds in UTF-8 byte order, time
    // bounds as epoch-micros stat longs — before any footer opens.
    // One slice where both dims cut, plus each dim alone proving an
    // all-pruned read (zero rows) while the other dim spans
    // everything. Content-exact vs DuckDB's integer replay.
    "q_corpus_cluster_prune_mixed" -> ((s, d) => {
      val t = multiClusterTable(s, d)
      def agg(df: DataFrame, tag: String) =
        df.agg(coalesce(count(lit(1)), lit(0L)).as("n_docs"),
          coalesce(sum(length(col("text")).cast("long")), lit(0L))
            .as("n_chars"),
          coalesce(sum(col("doc_id")), lit(0L)).as("sum_ids"))
          .select(lit(tag).as("range"), col("n_docs"), col("n_chars"),
            col("sum_ids"))
      // days 100..260 of the scattered calendar, full-day micros
      val tsLo = (18262L + 100L) * 86400000000L
      val tsHi = (18262L + 260L) * 86400000000L + 86399999999L
      agg(TxTable.readKeyRanges(s, t, Map("ts" -> (tsLo, tsHi)),
        version = Some(4L),
        strRanges = Map("id_str" -> ("doc_000050", "doc_000550"))),
        "a_mixed")
        .unionByName(agg(TxTable.readKeyRanges(s, t,
          Map("ts" -> (tsLo, tsHi)), version = Some(4L),
          strRanges = Map("id_str" -> ("zzz", "zzzz"))),
          "b_str_pruned"))
        .unionByName(agg(TxTable.readKeyRanges(s, t,
          Map("ts" -> (4000000000000000L, 4100000000000000L)),
          version = Some(4L),
          strRanges = Map("id_str" -> ("doc_000050", "doc_000550"))),
          "c_ts_pruned"))
        .orderBy("range")
    }),

    // TIME-KEYED manifest pruning (r14): a DATE slice and a
    // sub-day TIMESTAMP slice against the date-clustered layout,
    // plus a far-future date range (every file pruned → zeros).
    // Bounds are the columns' STAT LONGS — epoch days / epoch micros
    // (readKeyRange re-types the residual filter to the column's own
    // type); TxTableSpec pins the actual file-skip arithmetic. The
    // gate proves each pruned read is CONTENT-EXACT vs DuckDB's
    // integer-arithmetic replay of the same slices.
    "q_corpus_cluster_prune_time" -> ((s, d) => {
      val t = timeClusterTable(s, d)
      def agg(df: DataFrame, tag: String) =
        df.agg(coalesce(count(lit(1)), lit(0L)).as("n_docs"),
          coalesce(sum(length(col("text")).cast("long")), lit(0L))
            .as("n_chars"),
          coalesce(sum(col("doc_id")), lit(0L)).as("sum_ids"))
          .select(lit(tag).as("range"), col("n_docs"), col("n_chars"),
            col("sum_ids"))
      // 2020-02-01 .. 2020-03-15 as epoch days; the ts slice cuts
      // at 05:00 and 17:30 on its boundary days (micros precision)
      val (dLo, dHi) = (18293L, 18336L)
      val tsLo = 18362L * 86400000000L + 5L * 3600000000L
      val tsHi = 18412L * 86400000000L + 17L * 3600000000L + 1800000000L
      agg(TxTable.readKeyRange(s, t, "dt", dLo, dHi), "a_date")
        .unionByName(
          agg(TxTable.readKeyRange(s, t, "ts", tsLo, tsHi), "b_ts"))
        .unionByName(
          agg(TxTable.readKeyRange(s, t, "dt", 25000L, 26000L),
            "c_disjoint"))
        .orderBy("range")
    }),

    // DECIMAL-KEYED manifest pruning (r15): the money column —
    // DECIMAL(12,2), negative for early days — prunes through the
    // same unscaled-long stats path the int/date/timestamp keys ride
    // (precision ≤ 18 is int32/int64 physical in parquet; footer
    // stats ARE the unscaled values). Bounds are unscaled cents; the
    // residual filter re-types them to exact decimals. A wide slice
    // crossing zero, a SUB-UNIT slice (cuts between cents of one
    // whole unit), and an all-pruned disjoint range. Content-exact
    // vs DuckDB's integer-cents replay.
    "q_corpus_cluster_prune_decimal" -> ((s, d) => {
      val t = timeClusterTable(s, d)
      def agg(df: DataFrame, tag: String) =
        df.agg(coalesce(count(lit(1)), lit(0L)).as("n_docs"),
          coalesce(sum(length(col("text")).cast("long")), lit(0L))
            .as("n_chars"),
          coalesce(sum(col("doc_id")), lit(0L)).as("sum_ids"))
          .select(lit(tag).as("range"), col("n_docs"), col("n_chars"),
            col("sum_ids"))
      // -50.00 .. 12.34 (crosses zero), 1.02 .. 1.04 (sub-unit),
      // 90000.00 .. 99999.99 (beyond price max 264.06 → all pruned)
      agg(TxTable.readKeyRanges(s, t, Map("price" -> (-5000L, 1234L))),
        "a_cross_zero")
        .unionByName(agg(TxTable.readKeyRanges(s, t,
          Map("price" -> (102L, 104L))), "b_subunit"))
        .unionByName(agg(TxTable.readKeyRanges(s, t,
          Map("price" -> (9000000L, 9999999L))), "c_disjoint"))
        .orderBy("range")
    }),

    "q_corpus_vacuum" -> ((s, d) => {
      import s.implicits._
      val (t, expired, reaped, revac, v1fails) = vacAudit(s, d)
      val flags = Seq(
        ("a_expired_manifests", expired.longValue()),
        ("b_reaped_dead_files", reaped.longValue()),
        ("c_revacuum_noop", revac.longValue()),
        ("d_expired_read_fails", v1fails.longValue())).toDF("chk", "value")
      val contents = Seq(2L, 3L).map { v =>
        TxTable.read(s, t, Some(v))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("doc_id")), lit(0L)).as("ids"))
          .select(explode(array(
            struct(lit(s"v${v}_docs").as("chk"), col("n").as("value")),
            struct(lit(s"v${v}_id_sum").as("chk"),
              col("ids").as("value")))).as("kv"))
          .select(col("kv.chk").as("chk"), col("kv.value").as("value"))
      }.reduce(_ unionByName _)
      flags.unionByName(contents).orderBy("chk")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    // Replays each version's LOGICAL content straight from
    // `documents`: v1/v2 are modulo slices, v3 applies the merge
    // (update ... ' v3' on doc_id%6=0 over the v2 key set, plus the
    // %3=2, <60 inserts), v4 equals v3 (compaction is
    // content-neutral).
    "q_corpus_snapshot" ->
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |v2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 IN (0, 1)),
        |v3 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN text || ' v3' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 = 2 AND doc_id < 60),
        |versions AS (
        |  SELECT 1 AS version, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2
        |  UNION ALL SELECT 3, * FROM v3
        |  UNION ALL SELECT 4, * FROM v3)
        |SELECT CAST(version AS BIGINT) AS version,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM versions GROUP BY version
        |ORDER BY version""".stripMargin,

    // Independent CDC replay: rebuild each version's logical content
    // (WITH lang, mirroring the engine's full-row multiset diff),
    // diff adjacent versions and the (1→4) range with EXCEPT ALL
    // both ways, and aggregate the same per-transition fingerprints.
    // v4 = v3 (compaction), so the 3→4 row must be all zeros.
    "q_corpus_changes" ->
      """WITH v1 AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 = 0),
        |v2 AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 3 IN (0, 1)),
        |v3 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 6 = 0 THEN text || ' v3' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 3 = 2 AND doc_id < 60),
        |i12 AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1),
        |d12 AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2),
        |i23 AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v2),
        |d23 AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v3),
        |i14 AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1),
        |d14 AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3)
        |SELECT CAST(1 AS BIGINT) AS from_version,
        |  CAST(2 AS BIGINT) AS to_version,
        |  (SELECT COUNT(*) FROM i12) AS n_insert,
        |  (SELECT COUNT(*) FROM d12) AS n_delete,
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM i12), 0) AS BIGINT)
        |    AS insert_id_sum,
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM d12), 0) AS BIGINT)
        |    AS delete_id_sum,
        |  CAST(COALESCE((SELECT SUM(length(text)) FROM i12), 0) AS BIGINT)
        |    AS insert_chars
        |UNION ALL
        |SELECT 2, 3,
        |  (SELECT COUNT(*) FROM i23), (SELECT COUNT(*) FROM d23),
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM i23), 0) AS BIGINT),
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM d23), 0) AS BIGINT),
        |  CAST(COALESCE((SELECT SUM(length(text)) FROM i23), 0) AS BIGINT)
        |UNION ALL
        |SELECT 3, 4, 0, 0, 0, 0, 0
        |UNION ALL
        |SELECT 1, 4,
        |  (SELECT COUNT(*) FROM i14), (SELECT COUNT(*) FROM d14),
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM i14), 0) AS BIGINT),
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM d14), 0) AS BIGINT),
        |  CAST(COALESCE((SELECT SUM(length(text)) FROM i14), 0) AS BIGINT)
        |ORDER BY from_version, to_version""".stripMargin,

    // The IVM gate replays the DIRECT per-version aggregates — the
    // same oracle as q_corpus_snapshot. Equality of the two keys'
    // hashes against one oracle IS the maintained-state == direct
    // theorem under the driver gate.
    "q_corpus_ivm" ->
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |v3 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN text || ' v3' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 = 2 AND doc_id < 60),
        |versions AS (
        |  SELECT 1 AS version, * FROM v1
        |  UNION ALL SELECT 2, doc_id, text FROM documents
        |    WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL SELECT 3, * FROM v3
        |  UNION ALL SELECT 4, * FROM v3)
        |SELECT CAST(version AS BIGINT) AS version,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM versions GROUP BY version
        |ORDER BY version""".stripMargin,

    // Evolution replay, both axes: v1 = the %3=0 slice with NO
    // source column (n_source pinned 0) and float scores (exact
    // integers — the double sum replays exactly); v2 adds the %3=1
    // rows (only they carry source); v3 adds the %3=2,<60 rows whose
    // scores are n_chars+0.5 AS DOUBLE (the widening commit — halves
    // stay exact, so the sum is order-independent).
    "q_corpus_schema_evolution" ->
      """WITH v3x AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  WHERE doc_id % 3 = 2 AND doc_id < 60)
        |SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(0 AS BIGINT) AS n_source,
        |  SUM(CAST(n_chars AS DOUBLE)) AS score_sum,
        |  CAST(0 AS BIGINT) AS score_is_double
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT 2, COUNT(*), CAST(SUM(length(text)) AS BIGINT),
        |  CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  SUM(CAST(n_chars AS DOUBLE)), 0
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT 3,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 3 IN (0, 1))
        |    + (SELECT COUNT(*) FROM v3x),
        |  (SELECT CAST(SUM(length(text)) AS BIGINT) FROM documents
        |     WHERE doc_id % 3 IN (0, 1))
        |    + (SELECT CAST(SUM(length(text)) AS BIGINT) FROM v3x),
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 3 = 1)
        |    + (SELECT COUNT(*) FROM v3x),
        |  (SELECT SUM(CAST(n_chars AS DOUBLE)) FROM documents
        |     WHERE doc_id % 3 IN (0, 1))
        |    + (SELECT SUM(CAST(n_chars AS DOUBLE) + 0.5) FROM v3x),
        |  1
        |ORDER BY version""".stripMargin,

    // Delete replay: v1/v2 are the modulo slices, v3 = v2 minus the
    // predicate's rows, v4 = v3 (delete ∘ compact is content-neutral).
    "q_corpus_delete" ->
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |v2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 IN (0, 1)),
        |v3 AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 IN (0, 1)
        |    AND NOT (lang = 'de' OR doc_id % 7 = 3)),
        |versions AS (
        |  SELECT 1 AS version, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2
        |  UNION ALL SELECT 3, * FROM v3
        |  UNION ALL SELECT 4, * FROM v3)
        |SELECT CAST(version AS BIGINT) AS version,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM versions GROUP BY version
        |ORDER BY version""".stripMargin,

    // The SQL-surface lifecycle replayed logically: v1/v2 modulo
    // slices, v3 = v2 minus the DELETE predicate's rows, v4 and the
    // bare head (row 5) = v2 again (RESTORE TO VERSION 2).
    "q_corpus_sql_verbs" ->
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |v2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 IN (0, 1)),
        |v3 AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 IN (0, 1)
        |    AND NOT (lang = 'de' OR doc_id % 7 = 3)),
        |versions AS (
        |  SELECT 1 AS version, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2
        |  UNION ALL SELECT 3, * FROM v3
        |  UNION ALL SELECT 4, * FROM v2
        |  UNION ALL SELECT 5, * FROM v2)
        |SELECT CAST(version AS BIGINT) AS version,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM versions GROUP BY version
        |ORDER BY version""".stripMargin,

    // The SQL DML lifecycle replayed logically: v2 adds the %3=1
    // slice, v3 appends ' u3' to %6=0 texts, v4 replaces %12=4 rows
    // with 'm: '||original (disjoint from v3's evens-only update
    // set… %12=4 is ≡4 mod 6) and inserts the %3=2 <40 rows with the
    // same prefix, v5 overwrites to the %5=0 slice.
    "q_corpus_sql_dml" ->
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |v2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 IN (0, 1)),
        |v3 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN text || ' u3' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 3 IN (0, 1)),
        |v4 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 12 = 4 THEN 'm: ' || text
        |         WHEN doc_id % 6 = 0 THEN text || ' u3'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, 'm: ' || text FROM documents
        |  WHERE doc_id % 3 = 2 AND doc_id < 40),
        |v5 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |versions AS (
        |  SELECT 1 AS version, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2
        |  UNION ALL SELECT 3, * FROM v3
        |  UNION ALL SELECT 4, * FROM v4
        |  UNION ALL SELECT 5, * FROM v5)
        |SELECT CAST(version AS BIGINT) AS version,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM versions GROUP BY version
        |ORDER BY version""".stripMargin,

    // Version/op/row-count audit replay of the DML lifecycle.
    "q_corpus_history" ->
      """SELECT CAST(1 AS BIGINT) AS version, 'create' AS op,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 3 = 0)
        |    AS n_rows
        |UNION ALL SELECT 2, 'append',
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 3 IN (0, 1))
        |UNION ALL SELECT 3, 'update',
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 3 IN (0, 1))
        |UNION ALL SELECT 4, 'merge',
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 3 IN (0, 1))
        |  + (SELECT COUNT(*) FROM documents
        |     WHERE doc_id % 3 = 2 AND doc_id < 40)
        |UNION ALL SELECT 5, 'overwrite',
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 5 = 0)
        |ORDER BY version""".stripMargin,

    // Independent CDC replay of the delete: EXCEPT ALL both ways per
    // transition. 2→3 must be pure deletes (no inserts — the
    // rewrite's kept rows cancel), 3→4 all zeros (compaction), 1→4
    // the appends net of the deletes.
    "q_corpus_delete_feed" ->
      """WITH v1 AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 = 0),
        |v2 AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 3 IN (0, 1)),
        |v3 AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 3 IN (0, 1)
        |    AND NOT (lang = 'de' OR doc_id % 7 = 3)),
        |i23 AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v2),
        |d23 AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v3),
        |i14 AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1),
        |d14 AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3)
        |SELECT CAST(2 AS BIGINT) AS from_version,
        |  CAST(3 AS BIGINT) AS to_version,
        |  (SELECT COUNT(*) FROM i23) AS n_insert,
        |  (SELECT COUNT(*) FROM d23) AS n_delete,
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM i23), 0) AS BIGINT)
        |    AS insert_id_sum,
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM d23), 0) AS BIGINT)
        |    AS delete_id_sum
        |UNION ALL
        |SELECT 3, 4, 0, 0, 0, 0
        |UNION ALL
        |SELECT 1, 4,
        |  (SELECT COUNT(*) FROM i14), (SELECT COUNT(*) FROM d14),
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM i14), 0) AS BIGINT),
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM d14), 0) AS BIGINT)
        |ORDER BY from_version, to_version""".stripMargin,

    // Restore replay: v2 = the pre-delete state, v4 = v2 minus the
    // delete predicate's rows (compacted), v5 = v2 again (restore).
    // The 4→5 feed is the deleted rows coming back: inserts = v2
    // EXCEPT ALL v4 (= exactly the predicate's rows), deletes = 0.
    "q_corpus_restore" ->
      """WITH v2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 IN (0, 1)),
        |v4 AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 IN (0, 1)
        |    AND NOT (lang = 'de' OR doc_id % 7 = 3)),
        |back AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v4)
        |SELECT 'feed_4_5' AS step,
        |  (SELECT COUNT(*) FROM back) AS m1,
        |  CAST(0 AS BIGINT) AS m2,
        |  CAST(COALESCE((SELECT SUM(doc_id) FROM back), 0) AS BIGINT)
        |    AS m3
        |UNION ALL
        |SELECT 'v2', COUNT(*), CAST(SUM(length(text)) AS BIGINT),
        |  CAST(SUM(doc_id) AS BIGINT) FROM v2
        |UNION ALL
        |SELECT 'v4', COUNT(*), CAST(SUM(length(text)) AS BIGINT),
        |  CAST(SUM(doc_id) AS BIGINT) FROM v4
        |UNION ALL
        |SELECT 'v5', COUNT(*), CAST(SUM(length(text)) AS BIGINT),
        |  CAST(SUM(doc_id) AS BIGINT) FROM v2
        |ORDER BY step""".stripMargin,

    // Pruned-read replay: the mid slice straight off `documents`,
    // and the disjoint range as explicit zeros (every file pruned).
    "q_corpus_cluster_prune" ->
      """SELECT 'a_mid' AS range, COUNT(*) AS n_docs,
        |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_chars,
        |  CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE doc_id % 3 IN (0, 1) AND doc_id BETWEEN 20 AND 220
        |UNION ALL
        |SELECT 'b_disjoint', 0, 0, 0
        |ORDER BY range""".stripMargin,

    // The multi-cluster fixture's content is one `documents` slice
    // (compactions are content-neutral); each pruned read replays as
    // a plain WHERE over it. y = (doc_id // 32) % 32 mirrors the
    // engine's integer-div derivation exactly.
    "q_corpus_cluster_prune_multi" ->
      """WITH base AS (
        |  SELECT printf('doc_%06d', doc_id) AS id_str,
        |    doc_id % 32 AS x, (doc_id // 32) % 32 AS y, doc_id, text
        |  FROM documents WHERE doc_id % 3 < 2)
        |SELECT 'a_str' AS range, COUNT(*) AS n_docs,
        |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_chars,
        |  CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_ids
        |FROM base WHERE id_str BETWEEN 'doc_000010' AND 'doc_000040'
        |UNION ALL
        |SELECT 'b_2d', COUNT(*),
        |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT),
        |  CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
        |FROM base WHERE x BETWEEN 0 AND 7 AND y BETWEEN 1 AND 7
        |UNION ALL
        |SELECT 'c_str_disjoint', 0, 0, 0
        |ORDER BY range""".stripMargin,

    // Mixed (string id, time) compound-pruned reads replay as plain
    // WHEREs over the same slice: the id range via the printf image,
    // the time range via the scattered-day integer arithmetic
    // ((doc_id*7919)%365 days + doc_id%24 hours in micros). The
    // single-dim-disjoint rows are identically zero.
    "q_corpus_cluster_prune_mixed" ->
      """WITH base AS (
        |  SELECT printf('doc_%06d', doc_id) AS id_str, doc_id, text,
        |    (18262 + (doc_id * 7919) % 365) * 86400000000
        |      + (doc_id % 24) * 3600000000 AS ts_us
        |  FROM documents WHERE doc_id % 3 < 2)
        |SELECT 'a_mixed' AS range, COUNT(*) AS n_docs,
        |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_chars,
        |  CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_ids
        |FROM base
        |WHERE id_str BETWEEN 'doc_000050' AND 'doc_000550'
        |  AND ts_us BETWEEN 1586476800000000 AND 1600387199999999
        |UNION ALL
        |SELECT 'b_str_pruned', 0, 0, 0
        |UNION ALL
        |SELECT 'c_ts_pruned', 0, 0, 0
        |ORDER BY range""".stripMargin,

    // Time-keyed pruned-read replay: dt = 2020-01-01 + doc_id%365
    // (epoch day 18262 + offset), ts = that day at hour doc_id%24 —
    // both slices replay as pure integer arithmetic over
    // `documents`, so no engine date/timezone semantics enter the
    // compare. Bounds mirror the engine's literal stat longs.
    "q_corpus_cluster_prune_time" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    18262 + doc_id % 365 AS d_days,
        |    (18262 + doc_id % 365) * 86400000000
        |      + (doc_id % 24) * 3600000000 AS ts_us
        |  FROM documents)
        |SELECT 'a_date' AS range, COUNT(*) AS n_docs,
        |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_chars,
        |  CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_ids
        |FROM base WHERE d_days BETWEEN 18293 AND 18336
        |UNION ALL
        |SELECT 'b_ts', COUNT(*),
        |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT),
        |  CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
        |FROM base WHERE ts_us BETWEEN 1586494800000000 AND 1590859800000000
        |UNION ALL
        |SELECT 'c_disjoint', 0, 0, 0
        |ORDER BY range""".stripMargin,

    // Decimal-keyed pruned-read replay in integer CENTS — the same
    // unscaled integers the engine's manifest bounds and its range
    // arguments use — so no decimal division or rounding semantics
    // enter the compare. price max is 264.06, so the c range prunes
    // everything.
    "q_corpus_cluster_prune_decimal" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    (doc_id % 365 - 100) * 100 + (doc_id % 7) AS cents
        |  FROM documents)
        |SELECT 'a_cross_zero' AS range, COUNT(*) AS n_docs,
        |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_chars,
        |  CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_ids
        |FROM base WHERE cents BETWEEN -5000 AND 1234
        |UNION ALL
        |SELECT 'b_subunit', COUNT(*),
        |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT),
        |  CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
        |FROM base WHERE cents BETWEEN 102 AND 104
        |UNION ALL
        |SELECT 'c_disjoint', 0, 0, 0
        |ORDER BY range""".stripMargin,

    // Vacuum replay: the audit flags are invariant metadata facts
    // (exactly one expired manifest, dead files reaped, idempotent
    // re-run, expired read refused); the content rows replay the
    // RETAINED versions' logical state — v2 = v1 minus the %5=0
    // deletes, v3 = v2 (compaction) — from the post-vacuum table.
    "q_corpus_vacuum" ->
      """WITH kept AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 3 = 0 AND NOT doc_id % 5 = 0)
        |SELECT 'a_expired_manifests' AS chk, CAST(1 AS BIGINT) AS value
        |UNION ALL SELECT 'b_reaped_dead_files', 1
        |UNION ALL SELECT 'c_revacuum_noop', 1
        |UNION ALL SELECT 'd_expired_read_fails', 1
        |UNION ALL SELECT 'v2_docs', (SELECT COUNT(*) FROM kept)
        |UNION ALL SELECT 'v2_id_sum',
        |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM kept)
        |UNION ALL SELECT 'v3_docs', (SELECT COUNT(*) FROM kept)
        |UNION ALL SELECT 'v3_id_sum',
        |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM kept)
        |ORDER BY chk""".stripMargin,
  )
}
