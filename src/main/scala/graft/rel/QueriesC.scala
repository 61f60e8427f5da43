package graft.rel

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.api.{Datum, Database}
import Q._

/** Group C — the reference's write/DDL surface (SURVEY.md §2.4.C, §2.2):
  * chunked append (ref datum/postgis/table.py:228-304), truncate+reload (ref
  * datum/table.py:91-93), coarse-typed CREATE TABLE (ref
  * datum/postgis/database.py:75-98), views / materialized views (ref
  * datum/postgis/database.py:108-126), and the index façade (ref
  * datum/postgis/table.py:309-334 → parquet clustering).
  *
  * Each query performs the mutation against a scratch database under
  * target/fixtures/out (never the read-only testdata), then returns the
  * read-back — which IS SQL-predictable, so even the write path gets a
  * DuckDB oracle. Queries re-overwrite their own scratch tables first, so
  * they are idempotent across verify/bench runs.
  *
  * Scale: appends are task-parallel file writes under the parquet commit
  * protocol (the cluster analogue of the reference's per-chunk commit);
  * `chunkSize` bounds output file size via maxRecordsPerFile; truncate is
  * an atomic overwrite; "index" = repartitionByRange + sortWithinPartitions
  * so row-group min/max stats give zone-map skipping at 100 TB.
  */
object QueriesC {
  private val ScratchRoot = "/root/repo/target/fixtures/out"

  private def scratch(s: SparkSession): Database = {
    implicit val sp: SparkSession = s
    new java.io.File(ScratchRoot).mkdirs()
    Datum.connect(s"parquet://$ScratchRoot")
  }

  val all: Map[String, Fn] = Map(
    // c1: seed table, append the same 25 rows with chunk_size=7 (ragged
    // final chunk, ref chunking arithmetic datum/postgis/table.py:268-273),
    // read back → nation ∪ nation.
    "c1_append_chunked" -> ((s, dir) => {
      val db = scratch(s)
      val nation = t(s, dir, "nation")
      nation.write.mode("overwrite").parquet(db.pathOf("c1_nation"))
      db.table("c1_nation").write(nation, chunkSize = 7)
      db.table("c1_nation").read(sort = Seq("n_nationkey", "n_name"))
    }),

    // c2: ETL reload idiom — truncate then write (ref delete+write,
    // datum/table.py:88-93), read back → exactly nation.
    "c2_truncate_reload" -> ((s, dir) => {
      val db = scratch(s)
      val nation = t(s, dir, "nation")
      nation.write.mode("overwrite").parquet(db.pathOf("c2_nation"))
      val tbl = db.table("c2_nation")
      tbl.delete()
      assert(tbl.count == 0L, "truncate must leave zero rows")
      tbl.write(nation)
      tbl.read(sort = Seq("n_nationkey"))
    }),

    // c3: coarse-typed CREATE TABLE with auto id (ref
    // datum/postgis/database.py:75-98); output = reflected coarse schema.
    "c3_create_table_coarse" -> ((s, dir) => {
      val db = scratch(s)
      db.dropTable("c3_coarse")
      db.createTable("c3_coarse",
        Seq("measure" -> "num", "label" -> "text", "seen_at" -> "date", "shape" -> "geom"))
      import s.implicits._
      db.table("c3_coarse").metadata.toDF("field", "coarse").orderBy("field")
    }),

    // c4: materialized view = parquet snapshot of a SELECT (ref
    // datum/postgis/database.py:118-126), read back through the catalog.
    "c4_mview" -> ((s, dir) => {
      val db = scratch(s)
      t(s, dir, "customer").write.mode("overwrite").parquet(db.pathOf("c4_customer"))
      db.createMView("c4_top_nations",
        """SELECT c_nationkey, count(*) AS n_customers,
          |CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
          |FROM c4_customer GROUP BY c_nationkey""".stripMargin)
      db.table("c4_top_nations").read(sort = Seq("c_nationkey"))
    }),

    // c5: session-scoped logical view + raw-SQL execute over it (ref
    // create_view datum/postgis/database.py:108-116 + db.execute
    // datum/database.py:44-45).
    "c5_view_execute" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val db = Datum.connect(s"parquet://$dir")
      db.createView("c5_open_orders",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'")
      db.execute(
        "SELECT o_custkey, count(*) AS n_open FROM c5_open_orders GROUP BY o_custkey")
        .orderBy("o_custkey")
    }),

    // c10: small-files compaction — chunked ingest leaves many tiny files
    // (maxRecordsPerFile=2 here); compact() folds them shuffle-free
    // (coalesce) and swaps atomically. Content is unchanged — the oracle is
    // the source itself; the file-count collapse is asserted in ApiSpec.
    "c10_compact_small_files" -> ((s, dir) => {
      val db = scratch(s)
      db.store(t(s, dir, "nation").repartition(5), "c10_nation", "overwrite",
        chunkSize = 2)
      val tbl = db.table("c10_nation")
      tbl.compact()
      tbl.read(sort = Seq("n_nationkey"))
    }),

    // c9: schema evolution — a table whose later files carry an extra
    // column (the standard additive-column migration at any warehouse).
    // mergeSchema unifies the footers at read time; pre-migration rows get
    // NULL for the new column, coalesced to a sentinel (the driver's
    // comparator cannot hash NULL numerics — they round-trip as NaN).
    // Scale note: footer merging is metadata-only (no data rewrite — the
    // point of additive evolution); pin the merged schema in a metastore
    // at production scale instead of re-merging per read.
    "c9_schema_evolution" -> ((s, dir) => {
      val db = scratch(s)
      val path = db.pathOf("c9_region")
      val r = t(s, dir, "region").select("r_regionkey", "r_name")
      r.write.mode("overwrite").parquet(path)
      // the "migrated" writer appends files WITH the new column
      r.withColumn("r_pop", col("r_regionkey") * 1000 + 17)
        .write.mode("append").parquet(path)
      s.read.option("mergeSchema", "true").parquet(path)
        .select(col("r_regionkey"), col("r_name"),
          coalesce(col("r_pop"), lit(-1L)).as("r_pop"))
        .orderBy("r_regionkey", "r_pop")
    }),

    // c7: hive-style date partitioning — the 100 TB layout for event data.
    // Writes events partitioned by day; the read-back filter becomes a
    // PartitionFilter (directory pruning: one day's files scanned, not 30).
    "c7_partition_pruning" -> ((s, dir) => {
      val db = scratch(s)
      events(s, dir)
        .withColumn("event_date", col("ts").cast("date"))
        .select("event_id", "user_id", "event_type", "value", "event_date")
        .write.mode("overwrite").partitionBy("event_date")
        .parquet(db.pathOf("c7_events"))
      s.read.parquet(db.pathOf("c7_events"))
        .filter(col("event_date") === "2024-01-15")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),

    // c11: INCREMENTAL materialized-view refresh — the mview (daily
    // per-type aggregate) is built from the pre-cutoff history, then late
    // days arrive and ONLY the affected day-partitions are recomputed and
    // swapped in (dynamic partition overwrite). The read-back must equal a
    // full recompute over all events (the oracle) — proving refresh(delta)
    // ≡ rebuild(all). At 100 TB: refresh cost is O(delta days), not
    // O(history).
    "c11_mview_incremental" -> ((s, dir) => {
      val db = scratch(s)
      val ev = events(s, dir)
        .withColumn("day", date_format(col("ts").cast("date"), "yyyy-MM-dd"))
      val agg = (e: org.apache.spark.sql.DataFrame) =>
        e.groupBy("day", "event_type").agg(
          count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
      val cutoff = "2024-01-25"
      db.dropTable("c11_daily")
      db.createMViewPartitioned("c11_daily",
        agg(ev.filter(col("day") < cutoff)), Seq("day"))
      // the delta: all events of the late days; its aggregate IS the full
      // refreshed content of exactly those partitions
      db.refreshMViewPartitions("c11_daily",
        agg(ev.filter(col("day") >= cutoff)), Seq("day"))
      // partition-column inference types `day=2024-01-25` as DATE on read;
      // cast back to the oracle's string form (lossless either way)
      db.table("c11_daily")
        .read(fields = Seq("day", "event_type", "n", "sum_value"))
        .withColumn("day", date_format(col("day").cast("date"), "yyyy-MM-dd"))
        .orderBy("day", "event_type")
    }),

    // c12: keyed MERGE (upsert) on a bucketized table — the warehouse
    // write pattern c11 is to aggregates: bucketize(c_custkey, 8) makes
    // rows of one key live in one bucket directory, then upsert(delta)
    // reads, anti-joins, and atomically swaps ONLY the buckets the delta
    // hashes into. Delta = balance bump for every 100th customer (update)
    // plus key-shifted copies of every 250th (insert). Read-back ≡ the
    // SQL merge over the source table (the oracle).
    "c12_upsert_merge" -> ((s, dir) => {
      val db = scratch(s)
      val cust = t(s, dir, "customer")
      db.dropTable("c12_cust")
      db.store(cust, "c12_cust", "overwrite")
      val tbl = db.table("c12_cust")
      tbl.bucketize(Seq("c_custkey"), 8)
      val updates = cust.filter(col("c_custkey") % 100 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      val inserts = cust.filter(col("c_custkey") % 250 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
      tbl.upsert(updates.unionByName(inserts), Seq("c_custkey"))
      db.table("c12_cust").df
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // c6: index façade — cluster by l_shipdate (zone-map effect), verify the
    // data is preserved and a pushed-down range filter reads correctly.
    "c6_index_cluster" -> ((s, dir) => {
      val db = scratch(s)
      t(s, dir, "lineitem").write.mode("overwrite").parquet(db.pathOf("c6_lineitem"))
      val tbl = db.table("c6_lineitem")
      tbl.createIndex(Seq("l_shipdate"))
      tbl.read(
        fields = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"),
        where = Some("l_shipdate >= TIMESTAMP'2000-01-01 00:00:00'"),
        sort = Seq("l_orderkey", "l_linenumber"))
    }),

    // c13: snapshot / time travel — version v1 pins the seeded table's
    // file manifest (no data copy), an append creates v2; reading each
    // version back proves v1 is immune to the append. At 100 TB a
    // snapshot is a directory listing + a tiny manifest write, and a
    // versioned read opens exactly the manifest's files.
    "c13_time_travel" -> ((s, dir) => {
      val db = scratch(s)
      val nation = t(s, dir, "nation")
      nation.write.mode("overwrite").parquet(db.pathOf("c13_nation"))
      val tbl = db.table("c13_nation")
      // previous runs' manifests would shift the version numbering —
      // idempotency: start each run from a clean version history
      def wipe(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
        f.delete(): Unit
      }
      wipe(new java.io.File(tbl.path + ".versions"))
      val v1 = tbl.snapshot()
      tbl.write(nation.filter(col("n_nationkey") < 10))
      val v2 = tbl.snapshot()
      def stats(v: Int) = tbl.readVersion(v)
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("key_sum"))
        .withColumn("version", lit(v))
      stats(v1).unionByName(stats(v2))
        .select("version", "n", "key_sum").orderBy("version")
    }),

    // c19: snapshot DIFF — the incremental delta read between two pinned
    // versions: under the append-only contract v2's manifest is a
    // superset of v1's, and the difference IS the appended rows,
    // resolved at FILE granularity (two tiny manifest reads + a scan of
    // ONLY the new files). At 100 TB this is the incremental-export
    // primitive — the naive `v2 EXCEPT v1` shuffles both snapshots end
    // to end; the manifest diff reads just the delta. Seed with the low
    // orders key band, pin v1, append the next band, pin v2;
    // diffVersions(v1, v2) must be exactly the appended band.
    "c19_snapshot_diff" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 1000)
        .write.mode("overwrite").parquet(db.pathOf("c19_orders"))
      val tbl = db.table("c19_orders")
      def wipe(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
        f.delete(): Unit
      }
      wipe(new java.io.File(tbl.path + ".versions"))
      val v1 = tbl.snapshot()
      tbl.write(orders.filter(
        col("o_orderkey") > 1000 && col("o_orderkey") <= 3000))
      val v2 = tbl.snapshot()
      tbl.diffVersions(v1, v2).agg(
        count(lit(1)).as("n"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        sum(col("o_custkey")).cast("long").as("cust_sum"),
        min(col("o_orderkey")).cast("long").as("min_key"),
        max(col("o_orderkey")).cast("long").as("max_key"))
    }),

    // c20: FILE SKIPPING — the data-skipping primitive of the modern
    // table formats: analyzeStats builds a per-file min/max sidecar in
    // one scan; readPruned serves a range predicate scanning ONLY the
    // files whose band intersects (plus, always, files the sidecar
    // doesn't cover — appended after the analyze — so skipping can never
    // lose rows). Seed orders' low band range-clustered into 6 files,
    // analyze, serve a narrow range (engine-asserts the scan touched
    // strictly fewer files than the table holds), append an
    // un-analyzed band, serve a range inside IT (engine-asserts the
    // conservative path scanned the new file). Both phases' aggregates
    // are the oracle's — pure WHERE clauses over orders.
    "c20_file_skipping" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 3000)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c20_orders"))
      val tbl = db.table("c20_orders")
      val covered = tbl.analyzeStats(Seq("o_orderkey"))
      val pruned = tbl.readPruned("o_orderkey", 500L, 1500L)
      assert(pruned.inputFiles.length < tbl.df.inputFiles.length,
        s"range read must skip files: ${pruned.inputFiles.length} of " +
          s"${tbl.df.inputFiles.length}")
      def gauge(d: org.apache.spark.sql.DataFrame, phase: String) =
        d.agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).cast("long").as("key_sum"),
            min(col("o_orderkey")).cast("long").as("min_key"),
            max(col("o_orderkey")).cast("long").as("max_key"))
          .select(lit(phase).as("phase"), col("n"), col("key_sum"),
            col("min_key"), col("max_key"), lit(covered > 0L).as("stats_ok"))
      val coveredAgg = gauge(pruned, "covered")
      // OUT-OF-BAND append AFTER the analyze (no façade — façade appends
      // delta-maintain the sidecar since c25): the new file has no stats
      // — the conservative path must scan it (a sidecar can only skip,
      // never hide)
      orders.filter(col("o_orderkey") > 3000 && col("o_orderkey") <= 4000)
        .write.mode("append").parquet(tbl.path)
      val fresh = tbl.readPruned("o_orderkey", 3200L, 3800L)
      assert(fresh.inputFiles.nonEmpty,
        "conservative read must include the un-analyzed file")
      coveredAgg.unionByName(gauge(fresh, "uncovered")).orderBy("phase")
    }),

    // c21: CLUSTER → SKIP — the write-side half of c20's data skipping,
    // measured end-to-end: on an interleaved layout (every file spans
    // the whole key range) the sidecar can skip NOTHING (engine-asserts
    // the pruned read touches every file); createIndex's clustered
    // rewrite (range-repartition + in-file sort + atomic swap, c6's
    // operator) makes the per-file bands disjoint and auto-refreshes the
    // sidecar, after which the same range read provably touches fewer
    // files (engine-asserted). This is Delta/Iceberg's OPTIMIZE →
    // data-skipping loop: at 100 TB clustering is WHY a range scan reads
    // 1/1000th of the files. Values gated as a pure WHERE over orders.
    "c21_cluster_skipping" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      // round-robin: every file gets every-6th row, so each file's
      // [min,max] band spans ~the whole key range (and no partition is
      // empty — an empty file's null band is legitimately skippable)
      orders.filter(col("o_orderkey") <= 3000)
        .repartition(6)
        .write.mode("overwrite").parquet(db.pathOf("c21_orders"))
      val tbl = db.table("c21_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      val total = tbl.df.inputFiles.length
      val before = tbl.readPruned("o_orderkey", 500L, 1500L)
      assert(before.inputFiles.length == total,
        s"interleaved bands can skip nothing: ${before.inputFiles.length}/$total")
      tbl.createIndex(Seq("o_orderkey")): Unit // cluster + sidecar refresh
      val after = tbl.readPruned("o_orderkey", 500L, 1500L)
      assert(after.inputFiles.length < total,
        s"clustered bands must skip: ${after.inputFiles.length}/$total")
      after.agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("key_sum"),
          min(col("o_orderkey")).cast("long").as("min_key"),
          max(col("o_orderkey")).cast("long").as("max_key"))
        .select(col("n"), col("key_sum"), col("min_key"), col("max_key"),
          lit(true).as("skipping_improved"))
    }),

    // c22: METADATA-ONLY aggregates — COUNT/MIN/MAX answered from c20's
    // stats sidecar alone, zero data-file I/O (engine-asserts every
    // input file of the serving plan is a sidecar file). The refusal
    // edge is gated too: an OUT-OF-BAND append (raw parquet write, no
    // façade — façade appends now delta-maintain the sidecar, c25)
    // leaves the sidecar not covering the live file set and
    // aggFromStats must return None (a metadata answer over stale
    // coverage would be WRONG, unlike c20's skipping which degrades to
    // a full scan) — re-analyze, and the metadata answer covers the
    // grown table. At 100 TB this is the table formats' O(#files)
    // COUNT(*) instead of a corpus scan.
    "c22_stats_only_agg" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 3000)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c22_orders"))
      val tbl = db.table("c22_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      def serve(phase: String) = {
        val a = tbl.aggFromStats("o_orderkey")
          .getOrElse(sys.error(s"covering sidecar must serve ($phase)"))
        assert(a.inputFiles.nonEmpty && a.inputFiles.forall(_.contains(".stats")),
          s"metadata-only plan reads data files: ${a.inputFiles.toSeq}")
        a.select(lit(phase).as("phase"), col("n_rows"),
          col("min_o_orderkey").cast("long").as("min_key"),
          col("max_o_orderkey").cast("long").as("max_key"))
      }
      // materialized BEFORE the append + re-analyze swap out the very
      // sidecar files its plan reads (the e94 masked-phase lesson)
      val phase1 = serve("covered").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // out-of-band append: straight to the directory, no façade — the
      // one channel that can leave the sidecar stale (c25 covers the
      // façade channel)
      orders.filter(col("o_orderkey") > 3000 && col("o_orderkey") <= 4000)
        .write.mode("append").parquet(tbl.path)
      assert(tbl.aggFromStats("o_orderkey").isEmpty,
        "a sidecar that no longer covers the table must refuse")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      import s.implicits._
      phase1.toSeq.toDF("phase", "n_rows", "min_key", "max_key")
        .unionByName(serve("refreshed")).orderBy("phase")
    }),

    // c23: Z-ORDER → MULTI-DIM SKIP — c21's loop in 2-D, the reason
    // z-order exists: a single-key sort lets only the LEAD dimension
    // skip; Morton interleaving keeps per-file bands tight in EVERY
    // indexed dimension. createZOrderIndex (operator c8's engine) now
    // auto-refreshes the sidecar like createIndex; the gate asserts
    // that after the z-rewrite BOTH single-dimension range reads skip
    // files, and that the conjunction (readPrunedAll) prunes at least
    // as hard as either dimension alone. Values gated as a pure 2-D
    // WHERE over orders. The custkey range is wide enough to select rows
    // at every scale (17 at sf0.1) and narrow enough to skip files at
    // sf0.001, where it covers the top third of the custkey domain.
    "c23_zorder_skipping" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 3000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(6)
        .write.mode("overwrite").parquet(db.pathOf("c23_orders"))
      val tbl = db.table("c23_orders")
      tbl.analyzeStats(Seq("o_orderkey", "o_custkey")): Unit
      tbl.createZOrderIndex(Seq("o_orderkey", "o_custkey")): Unit
      val total = tbl.df.inputFiles.length
      val byKey = tbl.readPruned("o_orderkey", 200L, 600L)
      val byCust = tbl.readPruned("o_custkey", 100L, 600L)
      val box = tbl.readPrunedAll(
        Seq(("o_orderkey", 200L, 600L), ("o_custkey", 100L, 600L)))
      assert(byKey.inputFiles.length < total,
        s"z-order must skip on dim 1: ${byKey.inputFiles.length}/$total")
      assert(byCust.inputFiles.length < total,
        s"z-order must skip on dim 2: ${byCust.inputFiles.length}/$total")
      assert(box.inputFiles.length <=
        math.min(byKey.inputFiles.length, byCust.inputFiles.length),
        "the conjunction can only prune further")
      box.agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("key_sum"),
          sum(col("o_custkey")).cast("long").as("cust_sum"),
          min(col("o_orderkey")).cast("long").as("min_key"),
          max(col("o_orderkey")).cast("long").as("max_key"))
        .select(col("n"), col("key_sum"), col("cust_sum"),
          col("min_key"), col("max_key"), lit(true).as("zorder_skips"))
    }),

    // c24: FILE SKIPPING ON THE FLAGSHIP READ — the reference's primary
    // operator (ref datum/table.py:68-86) now gets c20's sidecar for
    // free: a plain read(where=<SQL text>) extracts the range/equality
    // conjuncts from the where text (Table.pruneBounds — necessary
    // conditions only), consults the analyzeStats sidecar, and plans
    // over only the files whose bands can match; the FULL where
    // (including the non-extractable residue conjunct here) still
    // applies on top, so the values gate as a pure WHERE over orders.
    // The reference's backend pruned every read via its b-trees without
    // the user asking — this closes the same gap for the 100 TB scan:
    // engine-asserts the where-read touched strictly fewer files than
    // the table holds, while a residue-only read still scans them all.
    "c24_read_where_skipping" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 3000)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c24_orders"))
      val tbl = db.table("c24_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      val total = tbl.df.inputFiles.length
      val pruned = tbl.read(where =
        Some("o_orderkey BETWEEN 500 AND 1500 AND o_orderpriority <> 'X'"))
      assert(pruned.inputFiles.length < total,
        s"read(where=) must skip files through the sidecar: " +
          s"${pruned.inputFiles.length}/$total")
      val residueOnly = tbl.read(where = Some("o_orderpriority <> 'X'"))
      assert(residueOnly.inputFiles.length == total,
        "a where with no extractable range must plan the full scan")
      // OR-of-ranges: every branch bounds o_orderkey, so the disjunction
      // contributes its union envelope [500, 1100] and still skips the
      // files wholly outside it — real users write ORs, not just ANDs
      val orRead = tbl.read(where = Some(
        "o_orderkey BETWEEN 500 AND 700 OR o_orderkey BETWEEN 900 AND 1100"))
      assert(orRead.inputFiles.length < total,
        s"an OR whose branches all bound the column must still skip: " +
          s"${orRead.inputFiles.length}/$total")
      def aggPhase(d: org.apache.spark.sql.DataFrame, phase: String) =
        d.agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("key_sum"),
          sum(col("o_custkey")).cast("long").as("cust_sum"),
          min(col("o_orderkey")).cast("long").as("min_key"),
          max(col("o_orderkey")).cast("long").as("max_key"))
          .select(lit(phase).as("phase"), col("n"), col("key_sum"),
            col("cust_sum"), col("min_key"), col("max_key"))
      aggPhase(pruned, "and_residue")
        .unionAll(aggPhase(orRead, "or_union"))
        .orderBy("phase")
    }),

    // c25: DELTA-MAINTAINED SIDECAR — e99's O(epoch) lesson applied to
    // the metadata tier: Table.write knows exactly which files it
    // landed, so the append extends the stats sidecar by scanning ONLY
    // those files — no refusal (c22's old edge), no full re-analyze. The
    // gate: analyze, append THROUGH the façade, then (a) the
    // metadata-only aggregate still serves (engine-asserts zero
    // data-file I/O) and covers the appended band, and (b) a range read
    // inside the OLD band still skips the appended file (it is covered,
    // with a disjoint band — not merely conservatively scanned). At
    // 100 TB the sidecar stays current under a trickle of appends
    // without ever re-reading the table.
    "c25_stats_delta_append" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 3000)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c25_orders"))
      val tbl = db.table("c25_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      val preAppend = tbl.df.inputFiles.toSet
      tbl.write(orders.filter(
        col("o_orderkey") > 3000 && col("o_orderkey") <= 4000))
      val appended = tbl.df.inputFiles.filterNot(preAppend).toSet
      assert(appended.nonEmpty, "the append must land new files")
      val meta = tbl.aggFromStats("o_orderkey").getOrElse(sys.error(
        "a delta-maintained sidecar must keep serving after a façade append"))
      assert(meta.inputFiles.nonEmpty &&
        meta.inputFiles.forall(_.contains(".stats")),
        s"metadata-only plan reads data files: ${meta.inputFiles.toSeq}")
      val total = tbl.df.inputFiles.length
      val oldBand = tbl.readPruned("o_orderkey", 500L, 1500L)
      assert(oldBand.inputFiles.length < total,
        s"the old-band read must skip: ${oldBand.inputFiles.length}/$total")
      assert(oldBand.inputFiles.toSet.intersect(appended).isEmpty,
        "the appended file must be SKIPPED (covered, disjoint band), " +
          "not conservatively scanned")
      meta.select(col("n_rows"),
        col("min_o_orderkey").cast("long").as("min_key"),
        col("max_o_orderkey").cast("long").as("max_key"))
    }),

    // c26: SQL ROUTE TO THE VERSIONED TIER — the reference's raw-SQL
    // surface (ref datum/database.py:44-45) reaches time travel and
    // delta reads without a second API: `FROM t VERSION AS OF n` and
    // `FROM t DIFF FROM n TO m` in db.execute resolve through the
    // snapshot manifests (c13/c19's engine). The gate engine-asserts the
    // SQL route returns EXACTLY the API route's rows (readVersion /
    // diffVersions), then hash-gates the values as pure WHEREs over
    // orders. At 100 TB both routes cost two tiny manifest reads + a
    // scan of only the pinned/delta files.
    "c26_sql_time_travel" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 1000)
        .write.mode("overwrite").parquet(db.pathOf("c26_orders"))
      val tbl = db.table("c26_orders")
      graft.api.Database.wipeDir(tbl.path + ".versions")
      val v1 = tbl.snapshot()
      tbl.write(orders.filter(
        col("o_orderkey") > 1000 && col("o_orderkey") <= 3000))
      val v2 = tbl.snapshot()
      def gauge(from: String, phase: String) = db.execute(
        s"SELECT '$phase' AS phase, count(*) AS n, " +
          "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
          "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
          "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
          s"FROM c26_orders $from")
      val asOf = gauge(s"VERSION AS OF $v1", "asof")
      val diff = gauge(s"DIFF FROM $v1 TO $v2", "diff")
      // the SQL route must be the API route, not a sibling definition
      val apiAsOf = tbl.readVersion(v1)
        .agg(count(lit(1)), sum(col("o_orderkey")).cast("long")).collect()(0)
      val sqlAsOf = asOf.select(col("n"), col("key_sum")).collect()(0)
      assert(apiAsOf == sqlAsOf, s"SQL $sqlAsOf != API $apiAsOf")
      val apiDiff = tbl.diffVersions(v1, v2)
        .agg(count(lit(1)), sum(col("o_orderkey")).cast("long")).collect()(0)
      val sqlDiff = diff.select(col("n"), col("key_sum")).collect()(0)
      assert(apiDiff == sqlDiff, s"SQL $sqlDiff != API $apiDiff")
      asOf.unionByName(diff).orderBy("phase")
    }),

    // c27: FILE SKIPPING FOR RAW SQL — c24's route on the reference's
    // other user surface (db.execute, ref datum/database.py:44-45): a
    // statement whose WHERE sits directly on a once-referenced physical
    // table gets its range/equality conjuncts extracted from the PARSED
    // plan and the table's temp view bound to the sidecar-pruned scan
    // for that statement's analysis (spark.sql binds views eagerly; the
    // full view is restored right after, so later statements see the
    // whole table). Engine-asserts: the filtered statement plans
    // strictly fewer input files; a statement referencing the table
    // TWICE (each arm with a different predicate) is left unpruned —
    // one view binding would apply the first occurrence's bounds to
    // both. Values hash-gated as pure WHEREs over orders.
    "c27_sql_where_skipping" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 3000)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c27_orders"))
      val tbl = db.table("c27_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      val total = tbl.df.inputFiles.length
      val pruned = db.execute(
        "SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
          "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
          "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
          "FROM c27_orders " +
          "WHERE o_orderkey BETWEEN 500 AND 1500 AND o_orderpriority <> 'X'")
      assert(pruned.inputFiles.length < total,
        s"execute(WHERE) must skip files through the sidecar: " +
          s"${pruned.inputFiles.length}/$total")
      // twice-referenced: both arms must scan the FULL table (pruning
      // either occurrence with the other's bounds would lose rows)
      val twice = db.execute(
        "SELECT count(*) AS n FROM (" +
          "SELECT o_orderkey FROM c27_orders WHERE o_orderkey <= 700 " +
          "UNION ALL " +
          "SELECT o_orderkey FROM c27_orders WHERE o_orderkey > 700) u")
      // DataFrame.inputFiles dedupes paths across the plan, so the
      // structural check is the distinct file set staying FULL…
      assert(twice.inputFiles.length == total,
        s"a twice-referenced table must not be pruned: " +
          s"${twice.inputFiles.length}/$total")
      // …and the value check is total coverage: every row lands in
      // exactly one arm, which any wrongly-shared pruning would break
      val nTwice = twice.collect()(0).getLong(0)
      assert(nTwice == tbl.count,
        s"both arms must see the whole table: $nTwice vs ${tbl.count}")
      // the full view is restored after the pruned statement — a later
      // plain statement sees every file (a SUM, not a COUNT: the bare
      // count now takes c28's metadata route and never touches data)
      val after = db.execute(
        "SELECT CAST(sum(o_orderkey) AS BIGINT) AS s FROM c27_orders")
      assert(after.inputFiles.length == total,
        "the full view must be restored after a pruned statement")
      pruned.select(col("n"), col("key_sum"), col("min_key"), col("max_key"),
        lit(nTwice).as("n_total"))
    }),

    // c28: METADATA-ONLY COUNT(*) ON THE RAW-SQL SURFACE — c22's
    // capability reaches db.execute: the bare-count statement answers
    // from the stats sidecar alone when coverage is exact (engine-asserts
    // every input file of the serving plan is a sidecar file), and a
    // façade append keeps it serving via c25's delta maintenance; an
    // OUT-OF-BAND append breaks coverage and the same statement falls
    // back to the conservative data scan (engine-asserted by the plan's
    // input files, values identical either way — the refusal can never
    // change an answer, only its cost). At 100 TB this is the table
    // formats' O(#files) COUNT for the reference's primary SQL entry.
    "c28_sql_count_metadata" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 3000)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c28_orders"))
      val tbl = db.table("c28_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      val meta = db.execute("SELECT count(*) AS n FROM c28_orders")
      assert(meta.inputFiles.nonEmpty &&
        meta.inputFiles.forall(_.contains(".stats")),
        s"metadata-only count reads data files: ${meta.inputFiles.toSeq}")
      // materialized BEFORE the append swaps out the very sidecar file
      // the plan reads (c22's e94 masked-phase lesson)
      val nCovered = meta.collect()(0).getLong(0)
      // façade append: c25's delta maintenance keeps the metadata route
      tbl.write(orders.filter(
        col("o_orderkey") > 3000 && col("o_orderkey") <= 4000))
      val meta2 = db.execute("SELECT count(*) AS n FROM c28_orders")
      assert(meta2.inputFiles.forall(_.contains(".stats")),
        "delta-maintained sidecar must keep the metadata route")
      val nAfterAppend = meta2.collect()(0).getLong(0)
      // out-of-band append: coverage breaks -> the SAME statement plans
      // the conservative data scan (correct answer, full cost)
      orders.filter(col("o_orderkey") > 4000 && col("o_orderkey") <= 4500)
        .write.mode("append").parquet(tbl.path)
      val scan = db.execute("SELECT count(*) AS n FROM c28_orders")
      assert(scan.inputFiles.exists(!_.contains(".stats")),
        "stale coverage must fall back to the data scan")
      val nFallback = scan.collect()(0).getLong(0)
      import s.implicits._
      Seq((nCovered, nAfterAppend, nFallback))
        .toDF("n_covered", "n_after_append", "n_fallback")
    }),

    // c29: TYPE-GUARDED BAND CHECK — the one shape where c24's skipping
    // could silently LOSE rows: a STRING-typed tracked column compared
    // to a NUMERIC literal. The sidecar min/max are lexicographic
    // (min="100", max="99" for a file holding exactly those two rows),
    // but the band check evaluates under Spark's cross-type coercion —
    // cast("99")=99 < 100 would skip the file while its row "100"
    // matches `code >= 100`, and no residual predicate can recover a
    // skipped file. prunedScan therefore accepts a bound only when the
    // literal's runtime type is order-compatible with the sidecar
    // column's native type (Table.bandComparable): the numeric-literal
    // where engine-asserts the FULL scan (bound dropped, conservative),
    // while a string-literal where on the same column still prunes
    // (orders agree). Values gate both arms bit-exact.
    "c29_typed_band_guard" -> ((s, dir) => {
      val db = scratch(s)
      import s.implicits._
      // two known files: A = {"100","99"} (lexicographic band inverted
      // vs numeric), B = {"200","300"}
      Seq("100", "99").toDF("code").coalesce(1)
        .write.mode("overwrite").parquet(db.pathOf("c29_codes"))
      Seq("200", "300").toDF("code").coalesce(1)
        .write.mode("append").parquet(db.pathOf("c29_codes"))
      val tbl = db.table("c29_codes")
      tbl.analyzeStats(Seq("code")): Unit
      val total = tbl.df.inputFiles.length
      assert(total >= 2, s"fixture must land two files, got $total")
      // numeric literal vs string column: the guard must DROP the bound
      // (full scan) — the old band check would have skipped file A and
      // lost its matching row "100"
      val guarded = tbl.read(where = Some("code >= 100"))
      assert(guarded.inputFiles.length == total,
        s"type-mismatched bound must not prune: " +
          s"${guarded.inputFiles.length}/$total")
      // string literal vs string column: same column, compatible order
      // — skipping still works (file B's band ["200","300"] > "150")
      val prunedStr = tbl.read(where = Some("code <= '150'"))
      assert(prunedStr.inputFiles.length < total,
        s"type-matched string bound must prune: " +
          s"${prunedStr.inputFiles.length}/$total")
      guarded.agg(count(lit(1)).as("n"), min(col("code")).as("min_code"),
          max(col("code")).as("max_code"))
        .select(lit("numeric_guarded").as("phase"), col("n"),
          col("min_code"), col("max_code"))
        .unionAll(prunedStr.agg(count(lit(1)).as("n"),
            min(col("code")).as("min_code"), max(col("code")).as("max_code"))
          .select(lit("string_pruned").as("phase"), col("n"),
            col("min_code"), col("max_code")))
        .orderBy("phase")
    }),

    // c30: FILE SKIPPING INSIDE JOINS ON THE RAW-SQL SURFACE — the shape
    // real analytics SQL takes (the reference's own catalog queries are
    // joins, ref datum/postgis/table.py:116-128): a WHERE range on the
    // fact side of a join now prunes that occurrence's files. The parsed
    // statement is rewritten per occurrence to a uniquely-named pruned
    // view (the canonical temp view is never touched — sequential and
    // concurrent statements always see the full table), so self-joins
    // prune each occurrence under its own bounds and c27's
    // once-referenced restriction is gone. Engine-asserts: the join
    // plans strictly fewer fact files; a filtered self-join still prunes
    // and matches the unpruned plan; an unfiltered follow-up statement
    // scans everything. Values gate as a plain join aggregate.
    "c30_sql_join_skipping" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      orders.filter(col("o_orderkey") <= 3000)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c30_orders"))
      customer.write.mode("overwrite").parquet(db.pathOf("c30_customer"))
      val tbl = db.table("c30_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      val total = tbl.df.inputFiles.length
      val joined = db.execute(
        "SELECT c.c_mktsegment AS seg, count(*) AS n, " +
          "CAST(sum(o.o_orderkey) AS BIGINT) AS key_sum " +
          "FROM c30_orders o JOIN c30_customer c " +
          "ON o.o_custkey = c.c_custkey " +
          "WHERE o.o_orderkey BETWEEN 500 AND 1500 " +
          "GROUP BY c.c_mktsegment ORDER BY seg")
      val factFiles = joined.inputFiles.count(_.contains("c30_orders"))
      assert(factFiles < total,
        s"the join's filtered fact side must skip files: $factFiles/$total")
      // self-join: each occurrence prunes under its own bounds (the
      // lifted once-referenced restriction); values must equal the
      // unpruned plan over the canonical views
      val selfSql = "SELECT count(*) AS n FROM c30_orders a " +
        "JOIN c30_orders b ON a.o_orderkey = b.o_orderkey " +
        "WHERE a.o_orderkey BETWEEN 500 AND 700 " +
        "AND b.o_orderkey BETWEEN 500 AND 1500"
      val self = db.execute(selfSql)
      assert(self.inputFiles.count(_.contains("c30_orders")) < total,
        "a filtered self-join must prune")
      val selfN = self.collect()(0).getLong(0)
      val fullN = s.sql(selfSql).collect()(0).getLong(0)
      assert(selfN == fullN,
        s"pruned self-join diverged from the full plan: $selfN vs $fullN")
      // the binding is statement-scoped: the NEXT statement's plan scans
      // the full table again
      val after = db.execute(
        "SELECT CAST(sum(o_orderkey) AS BIGINT) AS ks FROM c30_orders")
      assert(after.inputFiles.count(_.contains("c30_orders")) == total,
        "an unfiltered follow-up statement must see every file")
      joined
    }),

    // c31: DISJUNCTIVE (DNF) FILE SKIPPING — the union envelope (c24's
    // or_union arm) cannot prune the GAP between disjoint OR ranges:
    // `k <= 400 OR k >= 2600` collapses to [400-ish, 2600-ish] and scans
    // everything. The DNF band check (a file is scanned only when SOME
    // branch's bands all intersect it — what Delta/Iceberg's data
    // skipping actually evaluates) skips the middle files, and an IN
    // list becomes per-value point bands that skip between the values.
    // Engine-asserts: the disjoint-OR read scans strictly fewer files
    // than the union envelope would (computed side-by-side), the IN
    // read skips files between its two values, and the same shapes
    // through the raw-SQL route prune identically. Values gate as pure
    // WHEREs over orders.
    "c31_dnf_skipping" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 3000)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c31_orders"))
      val tbl = db.table("c31_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      val total = tbl.df.inputFiles.length
      // the union envelope of (<=400 OR >=2600) spans the whole key
      // range — under it this read scans ALL files; the DNF check must
      // skip the gap between the two ranges
      val orRead = tbl.read(where =
        Some("o_orderkey <= 400 OR o_orderkey >= 2600"))
      assert(orRead.inputFiles.length < total,
        s"disjoint OR must skip the gap: ${orRead.inputFiles.length}/$total")
      // IN -> per-value point bands: only the files holding 50 or 2950
      val inRead = tbl.read(where = Some("o_orderkey IN (50, 2950)"))
      assert(inRead.inputFiles.length < total &&
        inRead.inputFiles.length <= orRead.inputFiles.length,
        s"IN point bands must skip between the values: " +
          s"${inRead.inputFiles.length}/$total")
      // the raw-SQL route prunes the same shapes
      val sqlOr = db.execute("SELECT count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM c31_orders " +
        "WHERE o_orderkey <= 400 OR o_orderkey >= 2600")
      assert(sqlOr.inputFiles.count(_.contains("c31_orders")) < total,
        "the SQL route must prune disjoint ORs too")
      // NNF (r15): a negated range extracts its outside branches —
      // NOT BETWEEN skips the middle files exactly like the explicit OR
      val notRead = tbl.read(where =
        Some("NOT (o_orderkey BETWEEN 500 AND 2500)"))
      assert(notRead.inputFiles.length < total,
        s"NOT-of-range must skip the negated middle: " +
          s"${notRead.inputFiles.length}/$total")
      def aggPhase(d: org.apache.spark.sql.DataFrame, phase: String) =
        d.agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("key_sum"),
          min(col("o_orderkey")).cast("long").as("min_key"),
          max(col("o_orderkey")).cast("long").as("max_key"))
          .select(lit(phase).as("phase"), col("n"), col("key_sum"),
            col("min_key"), col("max_key"))
      aggPhase(orRead, "or_gap")
        .unionAll(aggPhase(inRead, "in_points"))
        .unionAll(aggPhase(notRead, "not_gap"))
        .orderBy("phase")
    }),

    // c32: METADATA-ONLY MIN/MAX/COUNT STATEMENTS — c28 generalized to
    // the aggregate list real users write: `SELECT min(a), max(b),
    // count(*) FROM t` answers from the stats sidecar alone when every
    // referenced column is tracked and coverage is exact (engine-asserts
    // the serving plan reads only sidecar files). Multi-column: min and
    // max of DIFFERENT columns in one statement, answered by one
    // O(#files) sidecar aggregate. A statement with a WHERE falls
    // through to the skipping route; an untracked column falls through
    // to the data scan — refusals can change cost, never answers
    // (engine-asserted on both). At 100 TB this is the table formats'
    // metadata aggregate on the reference's primary SQL entry.
    "c32_sql_metadata_agg" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 3000)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c32_orders"))
      val tbl = db.table("c32_orders")
      tbl.analyzeStats(Seq("o_orderkey", "o_custkey")): Unit
      val meta = db.execute(
        "SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, " +
          "min(o_custkey) AS min_cust, max(o_custkey) AS max_cust, " +
          "count(*) AS n, " +
          // SUM/AVG/COUNT(col) serve from the per-file exact BIGINT sums
          // + null counts (r15) — one step past count/min/max
          "sum(o_custkey) AS cust_sum, avg(o_custkey) AS cust_avg, " +
          "count(o_custkey) AS n_cust FROM c32_orders")
      assert(meta.inputFiles.nonEmpty &&
        meta.inputFiles.forall(_.contains(".stats")),
        s"metadata agg reads data files: ${meta.inputFiles.toSeq}")
      // an untracked column refuses the metadata route (conservative
      // data scan, same answer)
      val scan = db.execute(
        "SELECT min(o_totalprice) AS min_price FROM c32_orders")
      assert(scan.inputFiles.exists(!_.contains(".stats")),
        "untracked column must fall back to the data scan")
      // a WHERE over an UNTRACKED column falls through to the skipping
      // route, not this one (a tracked-column WHERE the bands decide
      // exactly now serves from metadata — that's c34's gate)
      val where = db.execute(
        "SELECT min(o_orderkey) AS lo FROM c32_orders " +
          "WHERE o_orderkey >= 1000 AND o_orderpriority <> 'X'")
      assert(where.inputFiles.exists(!_.contains(".stats")),
        "a filtered aggregate must scan data (pruned), not the sidecar")
      meta.select(col("min_key").cast("long"), col("max_key").cast("long"),
        col("min_cust").cast("long"), col("max_cust").cast("long"),
        col("n"), col("cust_sum").cast("long"), col("cust_avg"),
        col("n_cust"))
        .withColumn("min_price", lit(scan.collect()(0).getDouble(0)))
        .withColumn("lo_where", lit(where.collect()(0).getLong(0)))
    }),

    // c34: FILTERED METADATA AGGREGATES — c32 with a WHERE: `SELECT
    // min(k), max(k), count(*) FROM t WHERE <pred>` still answers from
    // the sidecar ALONE when the per-file bands DECIDE the predicate
    // for every file (all-true files contribute their band/rowcount,
    // all-false files drop; exactness needs no nulls in referenced
    // columns — the nnull_ stats analyzeStats records since r15). One
    // straddling file refuses the route and the pruned scan serves the
    // identical answer — refusals change cost, never answers
    // (engine-asserted on both arms). Iceberg's filtered metadata
    // aggregate on the reference's SQL surface: a time-range COUNT over
    // a time-clustered 100 TB corpus costs O(#files) sidecar rows.
    "c34_filtered_metadata_agg" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      // three EXPLICIT band files — [0,200], [201,400], [401,600] —
      // so predicate boundaries at 201/400 decide every file exactly and
      // 300 provably straddles the middle file. The 0–600 domain is
      // fully populated at EVERY test SF (sf0.001 holds keys 0..1499),
      // so the straddle/decide split never depends on the scale factor.
      orders.filter(col("o_orderkey") <= 200).coalesce(1)
        .write.mode("overwrite").parquet(db.pathOf("c34_orders"))
      orders.filter(col("o_orderkey") > 200 && col("o_orderkey") <= 400)
        .coalesce(1).write.mode("append").parquet(db.pathOf("c34_orders"))
      orders.filter(col("o_orderkey") > 400 && col("o_orderkey") <= 600)
        .coalesce(1).write.mode("append").parquet(db.pathOf("c34_orders"))
      val tbl = db.table("c34_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      // decidable range: every file fully inside or outside -> sidecar
      val served = db.execute(
        "SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi, " +
          "count(*) AS n FROM c34_orders WHERE o_orderkey >= 201")
      assert(served.inputFiles.nonEmpty &&
        served.inputFiles.forall(_.contains(".stats")),
        s"decidable WHERE must serve from metadata: ${served.inputFiles.toSeq}")
      // decidable BETWEEN + NOT compose through the 3-valued logic
      val between = db.execute(
        "SELECT count(*) AS n_mid FROM c34_orders " +
          "WHERE o_orderkey BETWEEN 201 AND 400")
      assert(between.inputFiles.forall(_.contains(".stats")),
        "a file-aligned BETWEEN must serve from metadata")
      val negated = db.execute(
        "SELECT count(*) AS n_out FROM c34_orders " +
          "WHERE NOT (o_orderkey BETWEEN 201 AND 400)")
      assert(negated.inputFiles.forall(_.contains(".stats")),
        "the negation of a decidable predicate is decidable")
      // an all-false predicate: zero-row answer, still metadata-only
      val none = db.execute(
        "SELECT count(*) AS n_none FROM c34_orders WHERE o_orderkey > 90000")
      assert(none.inputFiles.forall(_.contains(".stats")),
        "an all-false predicate decides from metadata")
      // a straddling boundary refuses -> (pruned) data scan, same answer
      val straddle = db.execute(
        "SELECT min(o_orderkey) AS lo_straddle, count(*) AS n_straddle " +
          "FROM c34_orders WHERE o_orderkey >= 300")
      assert(straddle.inputFiles.exists(!_.contains(".stats")),
        "a straddling file must fall through to the data scan")
      // scalars attach as literals (the c32 shape) — a crossJoin chain
      // of 1-row frames would plan BNLJ and trip the plan pins
      val st = straddle.collect()(0)
      served
        .select(col("lo").cast("long"), col("hi").cast("long"), col("n"))
        .withColumn("n_mid", lit(between.collect()(0).getLong(0)))
        .withColumn("n_out", lit(negated.collect()(0).getLong(0)))
        .withColumn("n_none", lit(none.collect()(0).getLong(0)))
        .withColumn("lo_straddle", lit(st.getLong(0)))
        .withColumn("n_straddle", lit(st.getLong(1)))
    }),

    // c33: FILE-GRANULAR COPY-ON-WRITE DELETE — the r14 verdict's one
    // remaining O(table)-where-O(touched)-is-possible user surface,
    // closed: `DELETE FROM t WHERE …` consults the skipping sidecar and
    // rewrites ONLY the files whose bands intersect the predicate (the
    // DNF necessity argument — a missing band proves no matching row),
    // keeping every other file BY REFERENCE. Delta's COW DELETE shape:
    // at 100 TB a takedown deleting 1k docs rewrites the files they
    // live in, not the corpus. Engine-asserts: (a) a provably-no-match
    // DELETE touches ZERO files (bands decide without any data I/O);
    // (b) untouched files survive byte-identical (same name, length,
    // MD5 — kept by reference, the e89 recipe); (c) strictly fewer
    // files rewrote than the table holds; (d) the sidecar is
    // delta-maintained across the swap (metadata aggregates still
    // serve, exact coverage). Rowcounts and the read-back hash-gate
    // against DuckDB.
    "c33_cow_delete" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 3000)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c33_orders"))
      val tbl = db.table("c33_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      val total = tbl.df.inputFiles.length
      def fileMap(): Map[String, (Long, String)] =
        new java.io.File(tbl.path).listFiles().toSeq
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .map { f =>
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(java.nio.file.Files.readAllBytes(f.toPath))
            f.getName -> (f.length(), md.map("%02x".format(_)).mkString)
          }.toMap
      val before = fileMap()
      assert(before.size == total, s"flat layout expected: $before")
      // (a) bands prove no row matches — zero file churn, zero data I/O
      val rc0 = db.execute(
        "DELETE FROM c33_orders WHERE o_orderkey BETWEEN 100000 AND 100100")
        .collect()(0).getLong(0)
      assert(rc0 == 0L, s"nothing above 100000 exists, got rc=$rc0")
      assert(fileMap() == before,
        "a provably-no-match DELETE must not touch any file")
      // the COW delete proper
      val rc = db.execute(
        "DELETE FROM c33_orders WHERE o_orderkey BETWEEN 1000 AND 1400")
        .collect()(0).getLong(0)
      assert(rc > 0L, "the delete must remove rows")
      val after = fileMap()
      // (b) untouched files kept by reference — byte-identical
      val survivors = before.keySet.intersect(after.keySet)
      assert(survivors.nonEmpty, "some files must survive by reference")
      survivors.foreach(f => assert(before(f) == after(f),
        s"surviving file $f changed bytes — not kept by reference"))
      // (c) strictly fewer files rewrote than the table holds
      val rewrote = (before.keySet -- after.keySet).size
      assert(rewrote > 0 && rewrote < total,
        s"COW must rewrite a strict subset: $rewrote/$total")
      // committed: no backup or stage residue beside the table
      val parent = new java.io.File(tbl.path).getParentFile
      assert(!parent.listFiles().exists(f =>
        f.getName.contains("c33_orders.cowdel_bak_") ||
          f.getName == "c33_orders.stage_tmp"),
        "the swap must commit (no backup/stage residue)")
      // (d) sidecar delta-maintained: metadata route still serves
      val meta = tbl.aggFromStats("o_orderkey").getOrElse(sys.error(
        "the sidecar must keep serving after a COW delete"))
      assert(meta.inputFiles.nonEmpty &&
        meta.inputFiles.forall(_.contains(".stats")),
        s"metadata-only plan reads data files: ${meta.inputFiles.toSeq}")
      tbl.df.agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        min(col("o_orderkey")).cast("long").as("min_key"),
        max(col("o_orderkey")).cast("long").as("max_key"))
        .withColumn("n_deleted", lit(rc))
        .withColumn("n_deleted_nomatch", lit(rc0))
    }),

    // c35: COPY-ON-WRITE UPDATE — the reference's THIRD row-level DML:
    // its backends ran `UPDATE … SET … WHERE …` natively through
    // db.execute; Spark has no UPDATE over parquet, so the engine routes
    // it through c33's file-granular swap — SET assignments apply to
    // matching rows (cast back to the column's type; schema never
    // mutates) in ONLY the files whose sidecar bands can hold a match,
    // everything else survives by reference. Same engine assertions as
    // c33: zero churn on a provably-no-match UPDATE, byte-identical
    // survivors, strict-subset rewrite, sidecar retargeted (metadata
    // routes keep serving). Rowcount = matched rows. Values hash-gate
    // against DuckDB's CASE-WHEN replay of the assignment.
    "c35_cow_update" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 1200)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c35_orders"))
      val tbl = db.table("c35_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      val total = tbl.df.inputFiles.length
      def fileMap(): Map[String, Long] =
        new java.io.File(tbl.path).listFiles().toSeq
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .map(f => f.getName -> f.length()).toMap
      val before = fileMap()
      val rc0 = db.execute(
        "UPDATE c35_orders SET o_custkey = 0 WHERE o_orderkey > 900000")
        .collect()(0).getLong(0)
      assert(rc0 == 0L && fileMap() == before,
        "a provably-no-match UPDATE must touch nothing")
      val rc = db.execute(
        "UPDATE c35_orders SET o_custkey = o_custkey + 1000000, " +
          "o_orderpriority = 'X-UPDATED' " +
          "WHERE o_orderkey BETWEEN 300 AND 500")
        .collect()(0).getLong(0)
      assert(rc > 0L, "the update must match rows")
      val after = fileMap()
      val survivors = before.keySet.intersect(after.keySet)
      assert(survivors.nonEmpty && survivors.forall(f => before(f) == after(f)),
        "untouched files must survive by reference")
      val rewrote = (before.keySet -- after.keySet).size
      assert(rewrote > 0 && rewrote < total,
        s"COW must rewrite a strict subset: $rewrote/$total")
      val meta = tbl.aggFromStats("o_orderkey").getOrElse(sys.error(
        "the sidecar must keep serving after a COW update"))
      assert(meta.inputFiles.forall(_.contains(".stats")))
      tbl.df.agg(count(lit(1)).as("n"),
        sum(col("o_custkey")).cast("long").as("cust_sum"),
        sum(when(col("o_orderpriority") === "X-UPDATED", 1L).otherwise(0L))
          .as("n_marked"),
        min(col("o_orderkey")).cast("long").as("min_key"),
        max(col("o_orderkey")).cast("long").as("max_key"))
        .withColumn("n_updated", lit(rc))
    }),

    // c36: MERGE INTO — the fourth row-level DML and Delta's CDC
    // workhorse (the reference's backends would run MERGE natively
    // through db.execute; Spark has none over plain parquet). Two-pass
    // file-granular COW: pass 1 finds the files holding any match —
    // pre-pruned by the skipping sidecar (files whose bands miss the
    // source key envelope are never read) — pass 2 rewrites ONLY those,
    // applying WHEN MATCHED clauses in order (DELETE for keys % 10 = 0,
    // UPDATE for the rest); WHEN NOT MATCHED inserts append as fresh
    // files. Engine asserts: a provably-no-match update-only MERGE
    // touches zero files; survivors are byte-identical; a strict subset
    // rewrote; the ANSI multi-match cardinality violation throws BEFORE
    // any effect (table byte-identical after); the sidecar keeps
    // serving. DuckDB replays the post-merge state declaratively.
    "c36_sql_merge" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 2400)
        .repartitionByRange(6, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c36_orders"))
      val tbl = db.table("c36_orders")
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      val total = tbl.df.inputFiles.length
      // CDC batch: upserts for keys 600-800 (every 10th a delete),
      // inserts with fresh keys 9000000+
      orders.filter(col("o_orderkey").between(600, 800))
        .select(col("o_orderkey").as("k"),
          (col("o_custkey") + 5000000).cast("long").as("new_cust"))
        .unionByName(orders.filter(col("o_orderkey").between(100, 200))
          .select((col("o_orderkey") + 9000000).cast("long").as("k"),
            col("o_custkey").cast("long").as("new_cust")))
        .coalesce(1).write.mode("overwrite").parquet(db.pathOf("c36_src"))
      orders.filter(col("o_orderkey") <= 100)
        .select((col("o_orderkey") + 900000).cast("long").as("k"),
          lit(0L).as("new_cust"))
        .coalesce(1).write.mode("overwrite").parquet(db.pathOf("c36_far"))
      def fileMap(): Map[String, (Long, String)] =
        new java.io.File(tbl.path).listFiles().toSeq
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .map { f =>
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(java.nio.file.Files.readAllBytes(f.toPath))
            f.getName -> (f.length(), md.map("%02x".format(_)).mkString)
          }.toMap
      val before = fileMap()
      // (a) bands prove no source key matches — zero churn, zero pass-2
      val rc0 = db.execute(
        "MERGE INTO c36_orders t USING c36_far s ON t.o_orderkey = s.k " +
          "WHEN MATCHED THEN UPDATE SET o_custkey = s.new_cust")
        .collect()(0).getLong(0)
      assert(rc0 == 0L, s"no key above 900000 exists, got rc=$rc0")
      assert(fileMap() == before,
        "a provably-no-match MERGE must not touch any file")
      // (b) the ANSI cardinality violation aborts BEFORE any effect
      val aKey = orders.filter(col("o_orderkey").between(600, 800))
        .agg(min(col("o_orderkey")).cast("long")).collect()(0).getLong(0)
      val dup = scala.util.Try(db.execute(
        s"MERGE INTO c36_orders t USING (SELECT CAST($aKey AS BIGINT) AS k " +
          s"UNION ALL SELECT CAST($aKey AS BIGINT)) s ON t.o_orderkey = s.k " +
          "WHEN MATCHED THEN DELETE " +
          "WHEN NOT MATCHED THEN INSERT (o_orderkey) VALUES (s.k)").collect())
      assert(dup.isFailure, "a doubly-matched target row must throw")
      assert(fileMap() == before,
        "a failed MERGE must leave the table byte-identical")
      // the CDC merge proper
      val rc = db.execute(
        "MERGE INTO c36_orders t USING c36_src s ON t.o_orderkey = s.k " +
          "WHEN MATCHED AND s.k % 10 = 0 THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET o_custkey = s.new_cust, " +
          "o_orderpriority = 'X-MERGED' " +
          "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, " +
          "o_orderpriority) VALUES (s.k, s.new_cust, 'X-INSERTED')")
        .collect()(0).getLong(0)
      assert(rc > 0L, "the merge must affect rows")
      val after = fileMap()
      val survivors = before.keySet.intersect(after.keySet)
      assert(survivors.nonEmpty, "some files must survive by reference")
      survivors.foreach(f => assert(before(f) == after(f),
        s"surviving file $f changed bytes — not kept by reference"))
      val rewrote = (before.keySet -- after.keySet).size
      assert(rewrote > 0 && rewrote < total,
        s"COW must rewrite a strict subset: $rewrote/$total")
      // sidecar delta-maintained across both the append and the swap
      val meta = tbl.aggFromStats("o_orderkey").getOrElse(sys.error(
        "the sidecar must keep serving after a MERGE"))
      assert(meta.inputFiles.forall(_.contains(".stats")),
        s"metadata-only plan reads data files: ${meta.inputFiles.toSeq}")
      tbl.df.agg(count(lit(1)).as("n"),
        sum(col("o_custkey")).cast("long").as("cust_sum"),
        sum(when(col("o_orderpriority") === "X-MERGED", 1L).otherwise(0L))
          .as("n_merged"),
        sum(when(col("o_orderpriority") === "X-INSERTED", 1L).otherwise(0L))
          .as("n_inserted"),
        min(col("o_orderkey")).cast("long").as("min_key"),
        max(col("o_orderkey")).cast("long").as("max_key"))
        .withColumn("n_affected", lit(rc))
        .withColumn("n_affected_nomatch", lit(rc0))
    }),

    // c39: string-key MERGE CDC (the doc_id shape) — discovery must
    // prune PER-POINT: a lexicographically scattered key set (one key
    // near each end of the table) makes the [min,max] envelope span
    // every file, but the two points band-hit exactly two. The
    // seam-asserted candidate count IS the 100 TB discovery cost, and
    // the rewrite is engine-asserted to touch exactly the candidate
    // files. DuckDB replays the post-merge state (the scattered source
    // hits the min/max doc_id rows — zero-padding keeps lexicographic
    // order aligned with numeric order — plus one insert).
    "c39_merge_string_cdc" -> ((s, dir) => {
      import s.implicits._
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 2400)
        .select(concat(lit("D"), lpad(col("o_orderkey").cast("string"),
          7, "0")).as("doc_id"), col("o_custkey").cast("long").as("val"))
        .repartitionByRange(6, col("doc_id"))
        .write.mode("overwrite").parquet(db.pathOf("c39_sdocs"))
      val sdocs = db.table("c39_sdocs")
      // idempotence: a prior run's autoMerge/schema overlay must not
      // pre-evolve this run's table
      new java.io.File(sdocs.path + ".properties").delete(): Unit
      sdocs.analyzeStats(Seq("doc_id")): Unit
      val totalS = sdocs.df.inputFiles.length
      val loHi = sdocs.df.agg(min(col("doc_id")), max(col("doc_id")))
        .collect()(0)
      Seq((loHi.getString(0), -5L), (loHi.getString(1), -5L),
        ("D9000001", 42L)).toDF("k", "nv")
        .coalesce(1).write.mode("overwrite").parquet(db.pathOf("c39_ssrc"))
      val cands = sdocs.mergeCandidateFiles(db.table("c39_ssrc").df,
        "s", "t", "t.doc_id = s.k", sdocs.currentDataFiles())
      assert(cands.size <= 2 && cands.size < totalS,
        s"per-point string pruning must beat the spanning envelope: " +
          s"${cands.size}/$totalS candidate files")
      def fileSetS(): Set[String] =
        new java.io.File(sdocs.path).listFiles().toSeq
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith(".")).map(_.getName).toSet
      val beforeS = fileSetS()
      val rcS = db.execute(
        "MERGE INTO c39_sdocs t USING c39_ssrc s ON t.doc_id = s.k " +
          "WHEN MATCHED THEN UPDATE SET val = s.nv " +
          "WHEN NOT MATCHED THEN INSERT (doc_id, val) VALUES (s.k, s.nv)")
        .collect()(0).getLong(0)
      assert(rcS == 3L, s"string CDC affected-rows: $rcS")
      val rewroteS = (beforeS -- fileSetS()).size
      assert(rewroteS == cands.size,
        s"exactly the candidate files rewrite: $rewroteS/${cands.size}")
      // MERGE schema evolution (r17, autoMerge): a later CDC batch
      // carries a NEW column. The default contract refuses loudly
      // (unknown INSERT column = usually a typo); with per-table
      // setAutoMerge(true) the column ADDs through c38's metadata-only
      // overlay (typed from the source expression), pre-existing rows
      // null-fill at read, and the merge applies in the same statement.
      Seq(("D9000002", 77L, "beta")).toDF("k", "nv", "tag")
        .coalesce(1).write.mode("overwrite").parquet(db.pathOf("c39_ssrc2"))
      val evoStmt =
        "MERGE INTO c39_sdocs t USING c39_ssrc2 s ON t.doc_id = s.k " +
          "WHEN MATCHED THEN UPDATE SET val = s.nv " +
          "WHEN NOT MATCHED THEN INSERT (doc_id, val, src_tag) " +
          "VALUES (s.k, s.nv, s.tag)"
      assert(scala.util.Try(db.execute(evoStmt)).isFailure,
        "default contract: an unknown INSERT column must refuse")
      sdocs.setAutoMerge(true)
      val rcE = db.execute(evoStmt).collect()(0).getLong(0)
      assert(rcE == 1L, s"evolution merge affected-rows: $rcE")
      val evolved = db.table("c39_sdocs").df
      assert(evolved.schema("src_tag").dataType ==
        org.apache.spark.sql.types.StringType,
        "the evolved column must carry the source expression's type")
      assert(evolved.filter(col("src_tag").isNull).count() ==
        evolved.count() - 1L,
        "pre-evolution rows must null-fill the new column")
      evolved.agg(count(lit(1)).cast("long").as("n_str"),
        sum(col("val")).cast("long").as("str_sum"),
        sum(when(col("src_tag").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_tagged"))
        .withColumn("n_str_affected", lit(rcS))
    }),

    // c37: warehouse DDL through the raw-SQL surface — the reference's
    // users ran CREATE TABLE AS / CREATE TABLE (typed) / DROP TABLE /
    // CREATE VIEW / DROP VIEW straight through db.execute (its backends
    // were live databases). Before this arm, a CTAS through execute
    // landed in Spark's session catalog where db.tables could never see
    // it; now all five bind to the warehouse façade: CTAS stores under
    // pathOf (self-referencing OR REPLACE reads the originals through
    // the staged swap), typed CREATE parses Spark DDL, DROP removes the
    // dir AND its sidecars, views are session-scoped like the API's.
    // Engine asserts existence/IF EXISTS/OR REPLACE semantics and the
    // physical dir lifecycle; DuckDB replays the surviving content.
    "c37_sql_ddl" -> ((s, dir) => {
      val db = scratch(s)
      val nation = t(s, dir, "nation")
      nation.write.mode("overwrite").parquet(db.pathOf("c37_nation"))
      // idempotence: clear any prior run's artifacts through the same
      // SQL surface under test
      db.execute("DROP TABLE IF EXISTS c37_big").collect(): Unit
      db.execute("DROP TABLE IF EXISTS c37_typed").collect(): Unit
      db.execute("DROP TABLE IF EXISTS c37_ow").collect(): Unit
      db.execute("DROP TABLE IF EXISTS c37_part").collect(): Unit
      db.execute("DROP VIEW IF EXISTS c37_v").collect(): Unit
      // CTAS lands in the warehouse, visible to db.tables, rowcount = n
      val n1 = db.execute("CREATE TABLE c37_big AS SELECT n_nationkey, " +
        "n_name FROM c37_nation WHERE n_nationkey >= 10")
        .collect()(0).getLong(0)
      assert(db.tables.contains("c37_big"), "CTAS must land in the warehouse")
      assert(new java.io.File(db.pathOf("c37_big")).isDirectory,
        "CTAS must write the pathOf layout")
      assert(n1 > 0L, "CTAS rowcount")
      // plain CREATE on an existing table errors; IF NOT EXISTS no-ops
      assert(scala.util.Try(db.execute(
        "CREATE TABLE c37_big AS SELECT 1 AS x")).isFailure,
        "CREATE TABLE on an existing table must refuse")
      assert(db.execute("CREATE TABLE IF NOT EXISTS c37_big " +
        "AS SELECT 1 AS x").collect()(0).getLong(0) == 0L)
      assert(db.table("c37_big").df.columns.contains("n_name"),
        "IF NOT EXISTS must leave the existing table untouched")
      // self-referencing OR REPLACE: reads originals via the staged swap
      db.execute("CREATE OR REPLACE TABLE c37_big AS " +
        "SELECT n_nationkey + 100 AS n_nationkey, n_name FROM c37_big")
        .collect(): Unit
      // typed CREATE TABLE (Spark DDL columns) + INSERT INTO through SQL
      db.execute(
        "CREATE TABLE c37_typed (k BIGINT, label STRING, price DECIMAL(10,2))")
        .collect(): Unit
      assert(db.tables.contains("c37_typed"))
      db.execute("INSERT INTO c37_typed VALUES (1, 'a', 1.50), " +
        "(2, 'b', 2.25)").collect(): Unit
      // CREATE VIEW through SQL, select through it
      db.execute("CREATE VIEW c37_v AS SELECT label, price FROM c37_typed " +
        "WHERE k = 2").collect(): Unit
      val p2 = db.execute("SELECT * FROM c37_v")
        .agg(count(lit(1)).cast("long").as("n"),
          sum((col("price") * 100)).cast("long").as("v"))
        .withColumn("phase", lit("typed_view"))
      val p2rows = p2.collect() // materialize BEFORE the drops below
      // INSERT OVERWRITE: whole-content replace, schema kept, rowcount
      db.execute("CREATE TABLE c37_ow AS SELECT n_nationkey FROM " +
        "c37_nation").collect(): Unit
      val rcOw = db.execute("INSERT OVERWRITE c37_ow " +
        "SELECT n_nationkey + 1000 FROM c37_nation WHERE n_nationkey < 5")
        .collect()(0).getLong(0)
      assert(rcOw == 5L, s"overwrite rowcount: $rcOw")
      // partitioned CTAS: hive layout from the PARTITIONED BY clause
      db.execute("CREATE TABLE c37_part PARTITIONED BY (n_regionkey) AS " +
        "SELECT n_nationkey, n_regionkey FROM c37_nation").collect(): Unit
      assert(new java.io.File(db.pathOf("c37_part")).listFiles().exists(f =>
        f.isDirectory && f.getName.startsWith("n_regionkey=")),
        "PARTITIONED BY must produce the hive layout")
      assert(db.table("c37_part").count == nation.count())
      db.execute("DROP TABLE c37_part").collect(): Unit
      // DROP TABLE removes the dir (and sidecars); DROP VIEW the view;
      // a bare DROP of a missing object refuses, IF EXISTS no-ops
      db.execute("DROP TABLE c37_typed").collect(): Unit
      assert(!db.tables.contains("c37_typed"))
      assert(!new java.io.File(db.pathOf("c37_typed")).exists())
      assert(scala.util.Try(db.execute("DROP TABLE c37_typed")).isFailure)
      db.execute("DROP VIEW c37_v").collect(): Unit
      assert(scala.util.Try(db.execute("DROP VIEW c37_v")).isFailure)
      db.execute("DROP VIEW IF EXISTS c37_v").collect(): Unit
      val nC37 = db.tables.count(_.startsWith("c37_"))
      val p1 = db.table("c37_big").df
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_nationkey")).cast("long").as("v"))
        .withColumn("phase", lit("ctas"))
      val p3 = p1.sparkSession.range(1)
        .select(lit(nC37.toLong).as("n"), lit(0L).as("v"),
          lit("post_drop").as("phase"))
      val p4 = db.table("c37_ow").df
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_nationkey")).cast("long").as("v"))
        .withColumn("phase", lit("overwrite"))
      p1.unionByName(p1.sparkSession.createDataFrame(
          java.util.Arrays.asList(p2rows: _*), p2.schema))
        .unionByName(p3).unionByName(p4)
        .select("phase", "n", "v").orderBy("phase")
    }),

    // c38: ALTER TABLE through the raw-SQL surface — the last
    // weekly-use DDL statement the warehouse lacked (the reference
    // passed ALTER straight through to its live backend,
    // datum/database.py:44-45). ADD COLUMN is METADATA-ONLY: the
    // evolved schema records in the .properties sidecar and applies at
    // read time — zero data churn at any table size (engine-asserted:
    // no file touched), typed NULL backfill, appends carry the column
    // physically. RENAME/DROP COLUMN are staged atomic rewrites;
    // RENAME retargets the skipping sidecar so metadata routes keep
    // serving under the new name (engine-asserted). Unsupported ALTER
    // shapes refuse loudly. DuckDB replays the final state.
    "c38_sql_alter" -> ((s, dir) => {
      val db = scratch(s)
      val nation = t(s, dir, "nation")
      nation.write.mode("overwrite").parquet(db.pathOf("c38_n"))
      val tbl = db.table("c38_n")
      new java.io.File(tbl.path + ".properties").delete(): Unit // stale runs
      tbl.analyzeStats(Seq("n_nationkey")): Unit
      def files(): Map[String, Long] =
        new java.io.File(tbl.path).listFiles().toSeq
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith(".")).map(f => f.getName -> f.length())
          .toMap
      val before = files()
      db.execute("ALTER TABLE c38_n ADD COLUMN score DOUBLE").collect(): Unit
      assert(files() == before,
        "ADD COLUMN must be metadata-only: no data file touched")
      assert(db.table("c38_n").df.schema("score").dataType ==
        org.apache.spark.sql.types.DoubleType, "typed NULL backfill")
      val metaAdd = tbl.aggFromStats("n_nationkey").getOrElse(sys.error(
        "the skipping sidecar must keep serving after ADD COLUMN"))
      assert(metaAdd.inputFiles.forall(_.contains(".stats")),
        s"metadata-only plan reads data files: ${metaAdd.inputFiles.toSeq}")
      // the append carries the new column physically; old files null-fill
      db.execute("INSERT INTO c38_n VALUES (900, 'zz', 0, 1.5)")
        .collect(): Unit
      // RENAME: staged rewrite + sidecar retarget to the new name
      db.execute("ALTER TABLE c38_n RENAME COLUMN n_nationkey TO nk")
        .collect(): Unit
      assert(db.table("c38_n").aggFromStats("nk").isDefined,
        "the sidecar must keep serving under the renamed column")
      // DROP: physically gone
      db.execute("ALTER TABLE c38_n DROP COLUMN n_regionkey").collect(): Unit
      assert(!db.table("c38_n").df.columns.contains("n_regionkey"))
      // unsupported ALTER shapes refuse instead of leaking to the
      // session catalog
      assert(scala.util.Try(db.execute(
        "ALTER TABLE c38_n SET TBLPROPERTIES ('x'='1')")).isFailure,
        "unsupported ALTER must refuse")
      // engine-assert the typed NULL backfill (the compare sentinel
      // below exists because the strict comparator treats NaN != NaN)
      assert(db.table("c38_n").df.filter(col("score").isNull).count() ==
        nation.count(), "pre-ALTER rows must null-fill the added column")
      // ALTER COLUMN TYPE widening (r17): metadata-only via the
      // declared-schema overlay — pre-ALTER files keep their narrow
      // physical type and read back widened (Spark 4's parquet
      // scan-time promotion); the post-ALTER append carries a value
      // only the wide type can hold; narrowing refuses loudly.
      db.dropTable("c38_w")
      db.execute("CREATE TABLE c38_w (k INT, v FLOAT)").collect(): Unit
      db.execute("INSERT INTO c38_w VALUES (1, 1.5), (2, 2.5)")
        .collect(): Unit
      def filesW(): Map[String, Long] =
        new java.io.File(db.pathOf("c38_w")).listFiles().toSeq
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith(".")).map(f => f.getName -> f.length())
          .toMap
      val beforeW = filesW()
      db.execute("ALTER TABLE c38_w ALTER COLUMN k TYPE BIGINT")
        .collect(): Unit
      db.execute("ALTER TABLE c38_w ALTER COLUMN v TYPE DOUBLE")
        .collect(): Unit
      assert(filesW() == beforeW,
        "type widening must be metadata-only: no data file touched")
      val schW = db.table("c38_w").df.schema
      assert(schW("k").dataType == org.apache.spark.sql.types.LongType &&
        schW("v").dataType == org.apache.spark.sql.types.DoubleType)
      db.execute("INSERT INTO c38_w VALUES (9000000000, 3.5)")
        .collect(): Unit // needs the widened k
      assert(scala.util.Try(db.execute(
        "ALTER TABLE c38_w ALTER COLUMN k TYPE INT")).isFailure,
        "narrowing must refuse")
      val wRows = db.table("c38_w").df
        .select(col("k").as("nk"), lit("w").as("n_name"),
          col("v").as("score"))
      db.table("c38_n").df
        .select(col("nk").cast("long").as("nk"), col("n_name"),
          coalesce(col("score"), lit(-1.0)).as("score"))
        .unionByName(wRows)
        .orderBy("nk", "n_name")
    }),

    // c40: DML-SURVIVING time travel (retention mode) — c13's snapshots
    // are valid across appends only; any COW rewrite invalidates them
    // (the documented default: legal deletion needs the bytes gone at
    // commit). With per-table opt-in `setCowRetention(true)`, every COW
    // DML auto-snapshots the pre-DML file set and RETIRES replaced
    // files to a `<path>.retain_*` sibling instead of deleting them —
    // readVersion then serves point-in-time reads across DELETE and
    // UPDATE (Delta's retention semantics over plain files). Engine
    // asserts: both pre-DML versions serve exactly, vacuum leaves
    // fresh history alone (ttl-gated reclaim is ApiSpec-covered), the
    // default stays physical. DuckDB replays all three time points.
    "c40_dml_time_travel" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 1500)
        .repartitionByRange(4, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c40_orders"))
      val tbl = db.table("c40_orders")
      // idempotence across verify/bench runs: clear prior history
      def wipe(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
        f.delete(): Unit
      }
      wipe(new java.io.File(tbl.path + ".versions"))
      wipe(new java.io.File(tbl.path + ".properties"))
      new java.io.File(tbl.path).getParentFile.listFiles()
        .filter(_.getName.startsWith("c40_orders.parquet.retain_"))
        .foreach(wipe)
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      tbl.setCowRetention(true)
      val rcDel = db.execute(
        "DELETE FROM c40_orders WHERE o_orderkey BETWEEN 200 AND 400")
        .collect()(0).getLong(0)
      assert(rcDel > 0L)
      val v1 = tbl.versions.head
      db.execute("UPDATE c40_orders SET o_custkey = 0 " +
        "WHERE o_orderkey BETWEEN 500 AND 600").collect(): Unit
      val v2 = tbl.versions.last
      assert(v2 > v1, "each retained DML pins its pre-state")
      // vacuum must leave fresh retained history alone
      val rep = db.vacuum()
      assert(rep.getOrElse("retain_expired", 0) == 0,
        s"fresh retention reclaimed: $rep")
      def phase(name: String, d: org.apache.spark.sql.DataFrame) =
        d.agg(count(lit(1)).cast("long").as("n"),
          sum(col("o_orderkey")).cast("long").as("key_sum"),
          sum(col("o_custkey")).cast("long").as("cust_sum"))
          .withColumn("phase", lit(name))
      phase("v1_pre_delete", tbl.readVersion(v1))
        .unionByName(phase("v2_pre_update", tbl.readVersion(v2)))
        .unionByName(phase("live", tbl.df))
        .select("phase", "n", "key_sum", "cust_sum")
        .orderBy("phase")
    }),

    // c41: TIMESTAMP-BASED time travel (r17) — the form users actually
    // type. Every snapshot manifest records its wall-clock (`#ts=`
    // header); `FROM t TIMESTAMP AS OF '<ts>'` in db.execute (and
    // Table.readTimestamp) resolves to the latest snapshot taken at or
    // before the bound (Delta/Iceberg's rule) and rides the same pinned
    // manifest read as VERSION AS OF. Engine asserts: the SQL route is
    // the API route exactly; a bound predating every snapshot refuses
    // loudly (serving the oldest would fabricate a state that never
    // existed). Resolution cost is O(#snapshots) tiny-file reads —
    // metadata-scale at 100 TB. DuckDB replays both time points as
    // pure WHEREs over orders.
    "c41_ts_time_travel" -> ((s, dir) => {
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 1000)
        .write.mode("overwrite").parquet(db.pathOf("c41_orders"))
      val tbl = db.table("c41_orders")
      graft.api.Database.wipeDir(tbl.path + ".versions")
      tbl.snapshot(): Unit
      val ts1 = System.currentTimeMillis()
      Thread.sleep(20) // distinct wall-clocks across the two snapshots
      tbl.write(orders.filter(
        col("o_orderkey") > 1000 && col("o_orderkey") <= 3000))
      tbl.snapshot(): Unit
      Thread.sleep(5)
      val ts2 = System.currentTimeMillis()
      def fmt(ms: Long) = new java.sql.Timestamp(ms).toString
      def gauge(phase: String, ref: String) = db.execute(
        s"SELECT '$phase' AS phase, count(*) AS n, " +
          "CAST(sum(o_orderkey) AS BIGINT) AS key_sum " +
          s"FROM c41_orders TIMESTAMP AS OF '$ref'")
      val a = gauge("asof_v1", fmt(ts1))
      val b = gauge("asof_v2", fmt(ts2))
      // the SQL route must be the API route, not a sibling definition
      val api1 = tbl.readTimestamp(fmt(ts1))
        .agg(count(lit(1)), sum(col("o_orderkey")).cast("long")).collect()(0)
      val sql1 = a.select(col("n"), col("key_sum")).collect()(0)
      assert(api1 == sql1, s"SQL $sql1 != API $api1")
      // a bound predating all history refuses loudly
      val tsOld = tbl.versionTimestamps.head._2 - 1
      val refused = try { tbl.versionAt(tsOld); false }
        catch { case _: IllegalArgumentException => true }
      assert(refused, "a timestamp before the earliest snapshot must refuse")
      a.unionByName(b).orderBy("phase")
    }),

    // c42: MANIFEST-PINNED READS (r17) — reader snapshot isolation,
    // the read-side counterpart of r16's writer OCC. With per-table
    // opt-in setPinnedReads(true), every read (API and SQL) resolves
    // through the latest PUBLISHED snapshot manifest instead of a
    // directory listing, and every façade mutation publishes
    // swap-then-publish — so a reader racing a COW swap serves the
    // pre-swap version EXACTLY (manifest files resolve through the
    // swap's own backup dir mid-swap). Delta/Iceberg's reader contract
    // over plain files; the reference's backends gave readers
    // transaction isolation for free (datum/postgis/database.py:36-41).
    // Engine asserts: a crash-injected mid-swap state (original hopped
    // to the backup, uncommitted token file in the live tree) reads
    // bit-identically to the committed state, the uncommitted file is
    // invisible, the backup-resolved file serves, and vacuum's
    // rollback restores an all-live read. DuckDB replays all three
    // phases as the same WHERE. At 100 TB: one tiny manifest read per
    // statement replaces the O(#files) directory listing.
    "c42_pinned_reads" -> ((s, dir) => {
      import s.implicits._
      val db = scratch(s)
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") <= 2000)
        .repartitionByRange(4, col("o_orderkey"))
        .write.mode("overwrite").parquet(db.pathOf("c42_orders"))
      val tbl = db.table("c42_orders")
      graft.api.Database.wipeDir(tbl.path + ".versions")
      graft.api.Database.wipeDir(graft.api.Table.versionDirOf(tbl.path))
      new java.io.File(tbl.path + ".properties").delete(): Unit
      new java.io.File(tbl.path).getParentFile.listFiles()
        .filter(f => f.getName.startsWith("c42_orders.parquet.retain_") ||
          f.getName.startsWith("c42_orders.parquet.cowdel_bak_"))
        .foreach(f => graft.api.Database.wipeDir(f.getPath))
      tbl.analyzeStats(Seq("o_orderkey")): Unit
      tbl.setPinnedReads(true)
      // committed façade mutations publish and advance the pinned view
      tbl.write(orders.filter(
        col("o_orderkey") > 2000 && col("o_orderkey") <= 3000))
      db.execute(
        "DELETE FROM c42_orders WHERE o_orderkey BETWEEN 100 AND 200")
        .collect(): Unit
      // each phase MATERIALIZES at its own point in time (a lazily
      // returned plan would re-read the mid-swap file set after
      // vacuum's rollback moved it again)
      def gauge(phase: String): (String, Long, Long) = {
        val r = db.execute(
          "SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) " +
            "AS key_sum FROM c42_orders").collect()(0)
        (phase, r.getLong(0), r.getLong(1))
      }
      val committed = gauge("committed")
      // crash-inject a concurrent writer's mid-swap state
      val token = "c42deadbeef0"
      val live = new java.io.File(tbl.path).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
      val victim = live.minBy(_.getName)
      val bak = new java.io.File(tbl.path + ".cowdel_bak_" + token)
      bak.mkdirs()
      java.nio.file.Files.move(victim.toPath,
        new java.io.File(bak, victim.getName).toPath)
      java.nio.file.Files.copy(live.filterNot(_ == victim).head.toPath,
        new java.io.File(tbl.path, s"cowdel_${token}_dup.parquet").toPath)
      s.catalog.refreshByPath(tbl.path)
      val midswap = gauge("midswap")
      assert((midswap._2, midswap._3) == (committed._2, committed._3),
        "a mid-swap pinned read must serve the pre-swap version exactly")
      val pinnedScan = db.table("c42_orders").df
      assert(!pinnedScan.inputFiles.exists(_.contains(s"cowdel_${token}_")),
        "an uncommitted promoted file must be invisible to pinned reads")
      assert(pinnedScan.inputFiles.exists(_.contains("cowdel_bak_")),
        "the backed-up original must serve from the swap's backup dir")
      // vacuum rolls the crashed swap back; reads are all-live again
      assert(db.vacuum().getOrElse("recovered", 0) >= 1)
      val recovered = gauge("recovered")
      assert(db.table("c42_orders").df.inputFiles
        .forall(!_.contains("cowdel_bak_")), "post-recovery all-live read")
      Seq(committed, midswap, recovered).toDF("phase", "n", "key_sum")
        .orderBy("phase")
    }),

    // c14: snapshot RESTORE — the rollback half of c13's versioning: a
    // bad append lands, restore(v1) rolls the table back to the pinned
    // manifest via the staged atomic swap, and the read-back equals the
    // original seed exactly. The rewrite invalidates the old history, so
    // restore re-pins its result as v1 of a fresh one (asserted in
    // ApiSpec; the oracle checks the data contract).
    "c14_restore" -> ((s, dir) => {
      val db = scratch(s)
      val sup = t(s, dir, "supplier")
      sup.write.mode("overwrite").parquet(db.pathOf("c14_supplier"))
      val tbl = db.table("c14_supplier")
      def wipe(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
        f.delete(): Unit
      }
      wipe(new java.io.File(tbl.path + ".versions"))
      val v1 = tbl.snapshot()
      tbl.write(sup.filter(col("s_suppkey") <= 5)) // the bad append
      tbl.restore(v1)
      db.table("c14_supplier").df
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey")
    }),

    // c15: multi-format façade roundtrip — the same table written and read
    // back through each non-parquet scheme (orc / csv / json), checked by
    // content stats. Promotes the ApiSpec-only format coverage into the
    // driver's oracle artifact. CSV/JSON re-infer their schemas on read
    // (the interchange-tier contract); the stats cast to fixed types so
    // all three formats compare identically.
    "c15_format_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val root = "/root/repo/target/fixtures/out/c15"
      val nation = t(s, dir, "nation").select("n_nationkey", "n_name")
      // the three format legs are independent (own roots) — overlap
      // them on driver threads (guide §2.6); result order is the Seq's
      Q.inParallel(Seq("csv", "json", "orc").map(fmt => () => {
        val fdb = Datum.connect(s"$fmt://$root/$fmt")
        fdb.store(nation, "c15_nation", "overwrite")
        fdb.table("c15_nation").df.agg(
          count(lit(1)).as("n"),
          sum(col("n_nationkey")).cast("long").as("key_sum"),
          min(col("n_name")).as("min_name"),
          max(col("n_name")).as("max_name"))
          .withColumn("fmt", lit(fmt))
      })).reduce(_.unionByName(_))
        .select("fmt", "n", "key_sum", "min_name", "max_name")
        .orderBy("fmt")
    }),

    // c16: warehouse VACUUM — reclaims crash leftovers (staging/backup-hop
    // dirs) and provably-stale snapshot manifests. The query fabricates
    // one of each failure artifact (a replaceAt dead between stage and
    // swap, a swapDir cut short, a manifest orphaned by a compact) and
    // reports what vacuum() removed; an initial vacuum resets whatever an
    // earlier aborted run left so the report is exact. Oracle is the
    // literal expected report. Metadata-only at any scale.
    "c16_vacuum" -> ((s, dir) => {
      import s.implicits._
      val db = scratch(s)
      val nation = t(s, dir, "nation")
      nation.write.mode("overwrite").parquet(db.pathOf("c16_nation"))
      val tbl = db.table("c16_nation")
      def wipe(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
        f.delete(): Unit
      }
      wipe(new java.io.File(tbl.path + ".versions"))
      // manifest-age expiry arm (r18): a table whose manifests expire
      // immediately (ttl < 0) — two published snapshots, vacuum keeps
      // the LATEST and expires the rest (Delta's logRetentionDuration
      // shape; the bound that keeps a once-a-minute pinned publisher at
      // O(window) manifests, not half a million a year)
      nation.write.mode("overwrite").parquet(db.pathOf("c16_ttl"))
      val ttlTbl = db.table("c16_ttl")
      wipe(new java.io.File(ttlTbl.path + ".versions"))
      db.vacuum() // reset: clear residue from any earlier aborted run
      ttlTbl.setManifestTtlMs(-1L)
      ttlTbl.snapshot()
      ttlTbl.snapshot()
      tbl.snapshot()
      tbl.compact() // rewrite → the manifest above is now stale
      def mkLeftover(path: String): Unit = {
        val d = new java.io.File(path); d.mkdirs()
        new java.io.FileOutputStream(new java.io.File(d, "part-00000.parquet")).close()
      }
      mkLeftover(tbl.path + ".stage_tmp")    // staged copy, never swapped in
      mkLeftover(tbl.path + ".stage_bak")    // backup whose primary exists
      mkLeftover(tbl.path + ".upsert_stage") // crashed bucketed upsert
      val aux = new java.io.File(db.pathOf("c16_nation")).getParent + "/c16_aux"
      // idempotency: a previous run's RECOVERED bucket=1 would give this
      // run's fabricated backup a live primary (bak, not recovered)
      wipe(new java.io.File(aux))
      mkLeftover(s"$aux/bucket=0")           // swap completed …
      mkLeftover(s"$aux/bucket=0.bak")       // … its backup is redundant
      mkLeftover(s"$aux/bucket=1.bak")       // crash mid-swap: backup is
                                             // the ONLY copy → recovered
      // the tombstone-fold residue classes (r12): a superseded sibling
      // backup (live partition dir present) and an un-promoted stage
      val aux2 = new java.io.File(db.pathOf("c16_nation")).getParent + "/c16_tomb"
      wipe(new java.io.File(aux2))
      wipe(new java.io.File(aux2 + ".bak_l0"))
      wipe(new java.io.File(aux2 + ".stage_l1"))
      mkLeftover(s"$aux2/list_id=0")         // fold promoted: live dir …
      mkLeftover(aux2 + ".bak_l0")           // … its backup is residue
      mkLeftover(aux2 + ".stage_l1")         // stranded fold stage
      db.vacuum().toSeq.toDF("kind", "n").orderBy("kind")
    }),

    // c17: bucketed co-located join — the last co-location lever alongside
    // broadcast (b2), salting (b10), and AQE: both sides persist into the
    // session catalog bucketed (+ sorted) by the join key, so the join
    // plans with NO exchange on either side at ANY size. On a 100 TB fact
    // the bucket layout is paid once at ingest and every subsequent keyed
    // join (or bucket-key aggregate) is shuffle-free — Spark's standard
    // answer to repeated fact⋈fact joins that are too big to broadcast.
    // ApiSpec pins the plan: zero shuffles under the join.
    "c17_bucketed_join" -> ((s, dir) => {
      // the catalog is session-scoped but the warehouse dirs persist — a
      // table location left by an earlier run (or a crash between write
      // and registration) must be cleared or saveAsTable refuses
      Seq("c17_orders", "c17_lineitem").foreach { tn =>
        s.sql(s"DROP TABLE IF EXISTS $tn")
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tn)
        def wipe(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
          f.delete(): Unit
        }
        wipe(loc)
      }
      // the two bucketed builds are independent (own tables) — overlap
      // them on driver threads (guide §2.6); the small orders build
      // back-fills cores the lineitem shuffle+sort leaves idle
      Q.inParallel(Seq(
        () => t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("c17_orders"),
        () => t(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("c17_lineitem"))): Unit
      // merge hint: at test scale Catalyst would broadcast the small side,
      // but c17 demonstrates the fact⋈fact shape that is too big to
      // broadcast at 100 TB — the hint pins the intended plan (bucketed
      // sort-merge, zero exchanges under the join) at every scale
      s.table("c17_lineitem").hint("merge")
        .join(s.table("c17_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          dbl(sum(dec2(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),

    // c18: the live-DB adapter's READ path in the gate (f16 covers its
    // exactly-once write path): store into an embedded Derby backend
    // through the façade, read back through Table.read — projection +
    // WHERE become a pushed-down JDBC query on the backend (the pushdown
    // the reference delegated to its DBMS), not a full-table pull.
    "c18_jdbc_read" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val jdb = Datum.connect("jdbc:derby:memory:graft_c18;create=true")
      jdb.store(t(s, dir, "nation"), "C18_NATION", "overwrite")
      jdb.table("C18_NATION")
        .read(fields = Seq("n_nationkey", "n_name", "n_regionkey"),
          where = Some("n_regionkey < 3"))
        .orderBy("n_nationkey")
    }),

    // c8: Z-order clustering — the multi-dimensional index analogue: after
    // Morton-interleaving (user_id, value), row-group min/max boxes are
    // compact in BOTH dimensions, so the two-sided predicate below can
    // prune row groups on either column (a linear cluster serves only its
    // leading key). Data is preserved exactly; the oracle is the plain
    // filter. Box-compactness itself is asserted in ApiSpec.
    "c8_zorder_cluster" -> ((s, dir) => {
      val db = scratch(s)
      t(s, dir, "events").select("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(db.pathOf("c8_events"))
      val tbl = db.table("c8_events")
      tbl.createZOrderIndex(Seq("user_id", "value"))
      tbl.read(
        fields = Seq("event_id", "user_id", "value"),
        where = Some("user_id < 100 AND value >= 50.0"),
        sort = Seq("event_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    "c1_append_chunked" ->
      ("SELECT * FROM (SELECT * FROM nation UNION ALL SELECT * FROM nation) " +
        "ORDER BY n_nationkey, n_name"),
    "c2_truncate_reload" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "c3_create_table_coarse" ->
      ("SELECT * FROM (VALUES ('id','num'),('measure','num'),('label','text')," +
        "('seen_at','date'),('shape','geom')) AS t(field, coarse) ORDER BY field"),
    "c4_mview" ->
      ("SELECT c_nationkey, count(*) AS n_customers, " +
        "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"),
    "c5_view_execute" ->
      ("SELECT o_custkey, count(*) AS n_open FROM orders WHERE o_orderstatus = 'O' " +
        "GROUP BY o_custkey ORDER BY o_custkey"),
    "c10_compact_small_files" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "c14_restore" ->
      ("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier " +
        "ORDER BY s_suppkey"),
    "c20_file_skipping" ->
      ("SELECT * FROM (" +
        "SELECT 'covered' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key, TRUE AS stats_ok " +
        "FROM orders WHERE o_orderkey BETWEEN 500 AND 1500 " +
        "UNION ALL " +
        "SELECT 'uncovered' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key, TRUE AS stats_ok " +
        "FROM orders WHERE o_orderkey BETWEEN 3200 AND 3800" +
        ") ORDER BY phase"),
    "c23_zorder_skipping" ->
      ("SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(sum(o_custkey) AS BIGINT) AS cust_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key, TRUE AS zorder_skips " +
        "FROM orders WHERE o_orderkey BETWEEN 200 AND 600 " +
        "AND o_custkey BETWEEN 100 AND 600"),
    "c22_stats_only_agg" ->
      ("SELECT * FROM (" +
        "SELECT 'covered' AS phase, count(*) AS n_rows, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE o_orderkey <= 3000 " +
        "UNION ALL " +
        "SELECT 'refreshed' AS phase, count(*) AS n_rows, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE o_orderkey <= 4000" +
        ") ORDER BY phase"),
    "c21_cluster_skipping" ->
      ("SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key, TRUE AS skipping_improved " +
        "FROM orders WHERE o_orderkey BETWEEN 500 AND 1500"),
    "c24_read_where_skipping" ->
      ("SELECT * FROM (" +
        "SELECT 'and_residue' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(sum(o_custkey) AS BIGINT) AS cust_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE o_orderkey BETWEEN 500 AND 1500 " +
        "AND o_orderpriority <> 'X' " +
        "UNION ALL " +
        "SELECT 'or_union' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(sum(o_custkey) AS BIGINT) AS cust_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE o_orderkey BETWEEN 500 AND 700 " +
        "OR o_orderkey BETWEEN 900 AND 1100" +
        ") ORDER BY phase"),
    "c25_stats_delta_append" ->
      ("SELECT count(*) AS n_rows, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE o_orderkey <= 4000"),
    "c32_sql_metadata_agg" ->
      ("SELECT CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key, " +
        "CAST(min(o_custkey) AS BIGINT) AS min_cust, " +
        "CAST(max(o_custkey) AS BIGINT) AS max_cust, " +
        "count(*) AS n, " +
        "CAST(sum(o_custkey) AS BIGINT) AS cust_sum, " +
        "avg(o_custkey) AS cust_avg, " +
        "count(o_custkey) AS n_cust, " +
        "min(o_totalprice) AS min_price, " +
        "(SELECT CAST(min(o_orderkey) AS BIGINT) FROM orders " +
        "WHERE o_orderkey >= 1000 AND o_orderkey <= 3000 " +
        "AND o_orderpriority <> 'X') AS lo_where " +
        "FROM orders WHERE o_orderkey <= 3000"),
    "c31_dnf_skipping" ->
      ("SELECT * FROM (" +
        "SELECT 'in_points' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE o_orderkey IN (50, 2950) " +
        "UNION ALL " +
        "SELECT 'or_gap' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE (o_orderkey <= 400 OR o_orderkey >= 2600) " +
        "AND o_orderkey <= 3000 " +
        "UNION ALL " +
        "SELECT 'not_gap' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE NOT (o_orderkey BETWEEN 500 AND 2500) " +
        "AND o_orderkey <= 3000" +
        ") ORDER BY phase"),
    "c34_filtered_metadata_agg" ->
      ("SELECT " +
        "(SELECT CAST(min(o_orderkey) AS BIGINT) FROM orders " +
        "WHERE o_orderkey >= 201 AND o_orderkey <= 600) AS lo, " +
        "(SELECT CAST(max(o_orderkey) AS BIGINT) FROM orders " +
        "WHERE o_orderkey >= 201 AND o_orderkey <= 600) AS hi, " +
        "(SELECT count(*) FROM orders " +
        "WHERE o_orderkey >= 201 AND o_orderkey <= 600) AS n, " +
        "(SELECT count(*) FROM orders " +
        "WHERE o_orderkey BETWEEN 201 AND 400) AS n_mid, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey <= 600 " +
        "AND NOT (o_orderkey BETWEEN 201 AND 400)) AS n_out, " +
        "CAST(0 AS BIGINT) AS n_none, " +
        "(SELECT CAST(min(o_orderkey) AS BIGINT) FROM orders " +
        "WHERE o_orderkey >= 300 AND o_orderkey <= 600) AS lo_straddle, " +
        "(SELECT count(*) FROM orders " +
        "WHERE o_orderkey >= 300 AND o_orderkey <= 600) AS n_straddle"),
    "c35_cow_update" ->
      ("SELECT count(*) AS n, " +
        "CAST(sum(CASE WHEN o_orderkey BETWEEN 300 AND 500 " +
        "THEN o_custkey + 1000000 ELSE o_custkey END) AS BIGINT) AS cust_sum, " +
        "(SELECT count(*) FROM orders " +
        "WHERE o_orderkey BETWEEN 300 AND 500) AS n_marked, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key, " +
        "(SELECT count(*) FROM orders " +
        "WHERE o_orderkey BETWEEN 300 AND 500) AS n_updated " +
        "FROM orders WHERE o_orderkey <= 1200"),
    "c37_sql_ddl" ->
      ("SELECT * FROM (" +
        "SELECT 'ctas' AS phase, count(*) AS n, " +
        "CAST(sum(n_nationkey + 100) AS BIGINT) AS v " +
        "FROM nation WHERE n_nationkey >= 10 " +
        "UNION ALL SELECT 'typed_view', CAST(1 AS BIGINT), " +
        "CAST(225 AS BIGINT) " +
        "UNION ALL SELECT 'post_drop', CAST(3 AS BIGINT), CAST(0 AS BIGINT) " +
        "UNION ALL SELECT 'overwrite', count(*), " +
        "CAST(sum(n_nationkey + 1000) AS BIGINT) " +
        "FROM nation WHERE n_nationkey < 5" +
        ") ORDER BY phase"),
    "c36_sql_merge" ->
      ("WITH fin AS (" +
        "SELECT o_orderkey AS k, " +
        "CASE WHEN o_orderkey BETWEEN 600 AND 800 AND o_orderkey % 10 <> 0 " +
        "THEN o_custkey + 5000000 ELSE o_custkey END AS ck, " +
        "CASE WHEN o_orderkey BETWEEN 600 AND 800 AND o_orderkey % 10 <> 0 " +
        "THEN 'X-MERGED' ELSE o_orderpriority END AS pri " +
        "FROM orders WHERE o_orderkey <= 2400 " +
        "AND NOT (o_orderkey BETWEEN 600 AND 800 AND o_orderkey % 10 = 0) " +
        "UNION ALL " +
        "SELECT o_orderkey + 9000000, o_custkey, 'X-INSERTED' " +
        "FROM orders WHERE o_orderkey BETWEEN 100 AND 200) " +
        "SELECT count(*) AS n, CAST(sum(ck) AS BIGINT) AS cust_sum, " +
        "CAST(sum(CASE WHEN pri = 'X-MERGED' THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_merged, " +
        "CAST(sum(CASE WHEN pri = 'X-INSERTED' THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_inserted, " +
        "CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey BETWEEN 600 AND 800) " +
        "+ (SELECT count(*) FROM orders WHERE o_orderkey BETWEEN 100 AND 200) " +
        "AS n_affected, CAST(0 AS BIGINT) AS n_affected_nomatch FROM fin"),
    "c40_dml_time_travel" ->
      ("WITH seed AS (SELECT o_orderkey, o_custkey FROM orders " +
        "WHERE o_orderkey <= 1500), " +
        "v2 AS (SELECT * FROM seed " +
        "WHERE NOT (o_orderkey BETWEEN 200 AND 400)), " +
        "live AS (SELECT o_orderkey, CASE WHEN o_orderkey BETWEEN 500 " +
        "AND 600 THEN 0 ELSE o_custkey END AS o_custkey FROM v2) " +
        "SELECT 'v1_pre_delete' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(sum(o_custkey) AS BIGINT) AS cust_sum FROM seed " +
        "UNION ALL SELECT 'v2_pre_update', count(*), " +
        "CAST(sum(o_orderkey) AS BIGINT), CAST(sum(o_custkey) AS BIGINT) " +
        "FROM v2 " +
        "UNION ALL SELECT 'live', count(*), " +
        "CAST(sum(o_orderkey) AS BIGINT), CAST(sum(o_custkey) AS BIGINT) " +
        "FROM live ORDER BY phase"),
    "c42_pinned_reads" ->
      ("WITH fin42 AS (SELECT o_orderkey FROM orders " +
        "WHERE o_orderkey <= 3000 " +
        "AND NOT (o_orderkey BETWEEN 100 AND 200)) " +
        "SELECT 'committed' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM fin42 " +
        "UNION ALL SELECT 'midswap', count(*), " +
        "CAST(sum(o_orderkey) AS BIGINT) FROM fin42 " +
        "UNION ALL SELECT 'recovered', count(*), " +
        "CAST(sum(o_orderkey) AS BIGINT) FROM fin42 ORDER BY phase"),
    "c41_ts_time_travel" ->
      ("SELECT 'asof_v1' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum " +
        "FROM orders WHERE o_orderkey <= 1000 " +
        "UNION ALL SELECT 'asof_v2', count(*), " +
        "CAST(sum(o_orderkey) AS BIGINT) " +
        "FROM orders WHERE o_orderkey <= 3000 ORDER BY phase"),
    "c39_merge_string_cdc" ->
      // replays the scattered string-key CDC: the source hits exactly
      // the min/max doc_id rows (zero-padded doc ids keep lexicographic
      // order aligned with numeric order), plus one insert
      ("WITH fin2 AS (SELECT CASE WHEN o_orderkey = (SELECT min(o_orderkey) " +
        "FROM orders WHERE o_orderkey <= 2400) OR o_orderkey = " +
        "(SELECT max(o_orderkey) FROM orders WHERE o_orderkey <= 2400) " +
        "THEN -5 ELSE o_custkey END AS val FROM orders " +
        "WHERE o_orderkey <= 2400 UNION ALL SELECT 42 " +
        "UNION ALL SELECT 77) " +
        "SELECT count(*) AS n_str, CAST(sum(val) AS BIGINT) AS str_sum, " +
        "CAST(1 AS BIGINT) AS n_tagged, " +
        "CAST(3 AS BIGINT) AS n_str_affected FROM fin2"),
    "c38_sql_alter" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name, " +
        "CAST(-1.0 AS DOUBLE) AS score FROM nation " +
        "UNION ALL SELECT 900, 'zz', CAST(1.5 AS DOUBLE) " +
        "UNION ALL SELECT 1, 'w', CAST(1.5 AS DOUBLE) " +
        "UNION ALL SELECT 2, 'w', CAST(2.5 AS DOUBLE) " +
        "UNION ALL SELECT 9000000000, 'w', CAST(3.5 AS DOUBLE) " +
        "ORDER BY nk, n_name"),
    "c33_cow_delete" ->
      ("SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key, " +
        "(SELECT count(*) FROM orders " +
        "WHERE o_orderkey BETWEEN 1000 AND 1400) AS n_deleted, " +
        "CAST(0 AS BIGINT) AS n_deleted_nomatch " +
        "FROM orders WHERE o_orderkey <= 3000 " +
        "AND NOT (o_orderkey BETWEEN 1000 AND 1400)"),
    "c30_sql_join_skipping" ->
      ("SELECT c.c_mktsegment AS seg, count(*) AS n, " +
        "CAST(sum(o.o_orderkey) AS BIGINT) AS key_sum " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "WHERE o.o_orderkey BETWEEN 500 AND 1500 " +
        "GROUP BY c.c_mktsegment ORDER BY seg"),
    "c29_typed_band_guard" ->
      ("SELECT * FROM (" +
        "SELECT 'numeric_guarded' AS phase, count(*) AS n, " +
        "min(code) AS min_code, max(code) AS max_code " +
        "FROM (VALUES ('100'),('99'),('200'),('300')) t(code) " +
        "WHERE CAST(code AS DOUBLE) >= 100 " +
        "UNION ALL " +
        "SELECT 'string_pruned' AS phase, count(*) AS n, " +
        "min(code) AS min_code, max(code) AS max_code " +
        "FROM (VALUES ('100'),('99'),('200'),('300')) t(code) " +
        "WHERE code <= '150'" +
        ") ORDER BY phase"),
    "c28_sql_count_metadata" ->
      ("SELECT " +
        "(SELECT count(*) FROM orders WHERE o_orderkey <= 3000) AS n_covered, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey <= 4000) AS n_after_append, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey <= 4500) AS n_fallback"),
    "c27_sql_where_skipping" ->
      ("SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey <= 3000) AS n_total " +
        "FROM orders WHERE o_orderkey BETWEEN 500 AND 1500 " +
        "AND o_orderpriority <> 'X'"),
    "c26_sql_time_travel" ->
      ("SELECT * FROM (" +
        "SELECT 'asof' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE o_orderkey <= 1000 " +
        "UNION ALL " +
        "SELECT 'diff' AS phase, count(*) AS n, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 3000" +
        ") ORDER BY phase"),
    "c19_snapshot_diff" ->
      ("SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(sum(o_custkey) AS BIGINT) AS cust_sum, " +
        "CAST(min(o_orderkey) AS BIGINT) AS min_key, " +
        "CAST(max(o_orderkey) AS BIGINT) AS max_key " +
        "FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 3000"),
    "c16_vacuum" ->
      ("SELECT * FROM (VALUES ('bak', 1), ('manifest_expired', 1), " +
        "('recovered', 1), ('retain_expired', 0), ('stage_bak', 1), " +
        "('stage_tmp', 1), ('stale_manifest', 1), ('tomb_bak', 1), " +
        "('tomb_stage', 1), ('upsert_stage', 1)) " +
        "t(kind, n) ORDER BY kind"),
    "c18_jdbc_read" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey < 3 ORDER BY n_nationkey"),
    "c17_bucketed_join" ->
      ("SELECT o_orderpriority, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, " +
        "count(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "c15_format_roundtrip" ->
      ("SELECT fmt, count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum, " +
        "min(n_name) AS min_name, max(n_name) AS max_name " +
        "FROM nation CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) t(fmt) " +
        "GROUP BY fmt ORDER BY fmt"),
    "c13_time_travel" ->
      ("WITH v1 AS (SELECT * FROM nation), " +
        "v2 AS (SELECT * FROM nation UNION ALL SELECT * FROM nation WHERE n_nationkey < 10) " +
        "SELECT 1 AS version, count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum FROM v1 " +
        "UNION ALL " +
        "SELECT 2, count(*), CAST(sum(n_nationkey) AS BIGINT) FROM v2 ORDER BY version"),
    "c9_schema_evolution" ->
      ("SELECT r_regionkey, r_name, -1 AS r_pop FROM region " +
        "UNION ALL SELECT r_regionkey, r_name, r_regionkey * 1000 + 17 FROM region " +
        "ORDER BY r_regionkey, r_pop"),
    "c7_partition_pruning" ->
      ("SELECT event_id, user_id, event_type, value FROM events " +
        "WHERE CAST(ts AS DATE) = DATE '2024-01-15' ORDER BY event_id"),
    "c11_mview_incremental" ->
      ("SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type, " +
        "count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "c12_upsert_merge" ->
      ("WITH delta AS (" +
        "SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal " +
        "FROM customer WHERE c_custkey % 100 = 0 " +
        "UNION ALL " +
        "SELECT c_custkey + 1000000, c_name, c_acctbal " +
        "FROM customer WHERE c_custkey % 250 = 0) " +
        "SELECT c_custkey, c_name, c_acctbal FROM (" +
        "SELECT c_custkey, c_name, c_acctbal FROM customer " +
        "WHERE c_custkey NOT IN (SELECT c_custkey FROM delta) " +
        "UNION ALL SELECT * FROM delta) ORDER BY c_custkey"),
    "c6_index_cluster" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' " +
        "ORDER BY l_orderkey, l_linenumber"),
    "c8_zorder_cluster" ->
      ("SELECT event_id, user_id, value FROM events " +
        "WHERE user_id < 100 AND value >= 50.0 ORDER BY event_id")
  )
}
