package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.api.{Database, Datum}

object Util {
  def str(n: JsonNode, k: String): String = n.get(k).asText()
  def int(n: JsonNode, k: String): Int = n.get(k).asInt()
  def strs(n: JsonNode, k: String): Seq[String] = n.get(k).elements().asScala.map(_.asText()).toSeq
  def wipe(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(wipe)
    f.delete(): Unit
  }
  /** Files under `dir`: relative path → (size, identity).  The identity is
    * the file key (inode) with the size and mtime, so a file renamed into
    * place keeps it and only files whose bytes were written get a new one. */
  def walk(dir: File): Map[String, (Long, String)] = {
    val base = dir.toPath
    if (!dir.exists()) Map.empty
    else {
      val s = Files.walk(base)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        base.relativize(p).toString ->
          (a.size, s"${a.fileKey}:${a.size}:${a.lastModifiedTime.toMillis}")
      }.toMap finally s.close()
    }
  }
}
import Util._

// ------------------------------------------------------------------ read_sql

/** Seeded read statements over a parquet warehouse, through
  * `Datum.connect` → `Database.execute` / `Table.read`, the relational
  * helpers of `graft.rel` and the spatial joins and ST functions. */
final class ReadSql(ctx: Ctx) extends Workload {
  import ctx._
  private val wh = s"$root/wh"
  private var db: Database = _

  def setupRound(r: Int): Unit = {
    db = tr.call("api", "connect") { Datum.connect(s"parquet://$wh")(spark) }
    tr.call("api", "registerAll") { db.registerAll() }
  }

  private def table(t: String): DataFrame = tr.call("api", "table")(db.table(t).df)

  def runRound(r: Int): Unit = plan.filter(n => int(n, "round") == r).foreach { op =>
    val id = str(op, "id")
    run(id, str(op, "tag"), r) {
      str(op, "kind") match {
        case "sql" =>
          val layer = if (str(op, "tag").startsWith("st_")) "spatial" else "api"
          val df = tr.call("api", "execute")(db.execute(str(op, "sql")))
          tr.call(layer, "collect")(df.collect())
        case "read" =>
          val aliases = op.get("aliases").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
          val df = tr.call("api", "read") {
            db.table(str(op, "table")).read(fields = strs(op, "fields"), aliases = aliases,
              where = Some(str(op, "where")), sort = strs(op, "sort"), limit = Some(int(op, "limit")))
          }
          tr.call("api", "collect")(df.collect())
        case "topk" =>
          val li = table("lineitem").filter(col("l_shipdate").between(
            to_date(lit(str(op, "lo"))), to_date(lit(str(op, "hi")))))
          val df = tr.call("rel", "topKPerGroup") {
            graft.rel.Q.topKPerGroup(li, "l_returnflag", int(op, "k"),
              Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")))
          }
          tr.call("rel", "collect") {
            df.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rank")
              .collect()
          }
        case "saltedsum" =>
          val li = table("lineitem").filter(col("l_shipdate") <= to_date(lit(str(op, "max_date"))))
          val df = tr.call("rel", "saltedSum") {
            graft.rel.Skew.saltedSum(li, Seq("l_returnflag", "l_linestatus"),
              col("l_extendedprice"), "sum_price", int(op, "buckets"))
          }
          tr.call("rel", "collect")(df.collect())
        case "bbox" =>
          val pts = table("points").select("pid", "px", "py")
          val boxes = table("boxes").filter(col("bid").between(int(op, "bid_lo"), int(op, "bid_hi")))
          val df = tr.call("spatial", "bboxJoin") {
            graft.spatial.SpatialJoin.bboxJoin(pts, boxes, int(op, "cell"))
          }
          tr.call("spatial", "collect")(df.select("pid", "bid").collect())
        case "nn" =>
          val pts = table("points").filter(col("pid").between(int(op, "pid_lo"), int(op, "pid_hi")))
            .select("pid", "px", "py")
          val sites = table("sites")
          val df = tr.call("spatial", "nnJoin") {
            graft.spatial.SpatialJoin.nnJoin(pts, sites, int(op, "radius"))
          }
          tr.call("spatial", "collect")(df.collect())
      }
    }
  }
}

// ------------------------------------------------------------- table_commits

/** A seeded commit log replayed on a fresh warehouse every round: appends,
  * upserts, MERGE, DML and ALTER through `Database.execute`, snapshots,
  * stats, compaction and a closing vacuum, with time-travel, pruned and
  * diff reads between them. */
final class TableCommits(ctx: Ctx) extends Workload {
  import ctx._
  private var db: Database = _
  private var wh: File = _
  private val versions = mutable.ArrayBuffer.empty[Int]      // by snapshot index
  private val stamps = mutable.ArrayBuffer.empty[String]     // wall clock after each
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
  private var tableBytes = 0L
  private var dataFiles = Map.empty[String, Int]         // table → data files, last walk

  def setupRound(r: Int): Unit = {
    if (wh != null) wipe(wh)
    wh = new File(root, s"wh_r$r")
    versions.clear(); stamps.clear()
    db = tr.call("api", "connect") { Datum.connect(s"parquet://${wh.getPath}")(spark) }
    tr.call("api", "setDefaultCowRetention")(db.setDefaultCowRetention(true))
    Seq("orders", "lineitem").foreach { t =>
      tr.call("api", "store") {
        db.store(spark.read.parquet(s"$root/src/$t.parquet"), t, "overwrite")
      }
    }
  }

  private def orders = db.table("orders")
  private val commitKinds = Set("snapshot", "analyze", "append", "dml", "upsert", "merge",
    "compact", "vacuum")

  def runRound(r: Int): Unit = plan.foreach { op =>
    val kind = str(op, "kind")
    val id = s"r$r.${str(op, "id")}"
    val t = Option(op.get("table")).map(_.asText()).getOrElse("orders")
    if (kind == "merge") {           // the MERGE source table, staged untimed
      db.store(spark.read.parquet(str(op, "file")), "orders_src", "overwrite")
    }
    val isCommit = commitKinds(kind)
    val before = if (tr.on && isCommit) walk(wh).values.map(_._2).toSet else Set.empty[String]
    val out = run(id, kind, r, Map("commit" -> isCommit, "table" -> t)) {
      val layer = "api"                // every call here enters graft.api
      kind match {
        case "snapshot" =>
          val v = tr.call(layer, "snapshot")(orders.snapshot())
          versions += v
          Map("version" -> v)
        case "analyze" => Map("files" -> tr.call(layer, "analyzeStats")(orders.analyzeStats(strs(op, "cols"))))
        case "append" =>
          tr.call(layer, "write")(db.table(t).write(spark.read.parquet(str(op, "file"))))
          Map()
        case "dml" | "merge" =>
          val rows = tr.call(layer, "execute")(db.execute(str(op, "sql")).collect())
          Map("rows" -> rows.headOption.map(_.get(0)).orNull)
        case "upsert" =>
          tr.call(layer, "upsert")(orders.upsert(spark.read.parquet(str(op, "file")), strs(op, "keys")))
          Map()
        case "compact" => Map("groups" -> tr.call(layer, "compact")(db.table(t).compact()))
        case "vacuum" => Map("report" -> tr.call(layer, "vacuum")(db.vacuum()))
        case "read_version" =>
          DigestRows(tr.call(layer, "readVersion")(orders.readVersion(versions(int(op, "at"))).collect()))
        case "diff" =>
          DigestRows(tr.call(layer, "diffVersions") {
            orders.diffVersions(versions(int(op, "from")), versions(int(op, "to"))).collect()
          })
        case "read_pruned" =>
          DigestRows(tr.call(layer, "readPruned") {
            orders.readPruned(str(op, "col"), op.get("lo").asDouble(), op.get("hi").asDouble()).collect()
          })
        case "version_sql" =>
          DigestRows(tr.call(layer, "execute") {
            db.execute(s"SELECT * FROM orders VERSION AS OF ${versions(int(op, "at"))}").collect()
          })
        case "timestamp_sql" =>
          DigestRows(tr.call(layer, "execute") {
            db.execute(s"SELECT * FROM orders TIMESTAMP AS OF '${stamps(int(op, "at"))}'").collect()
          })
        case "read_current" =>
          DigestRows(tr.call(layer, "read")(db.table(t).read().collect()))
      }
    }
    if (kind == "snapshot") {
      stamps += tsFmt.format(java.time.Instant.now())
      Thread.sleep(5)                // the next commit lands on a later millisecond
    }
    if (kind == "merge") db.dropTable("orders_src")
    if (kind == "vacuum") tableBytes = walk(wh).values.map(_._1).sum
    if (tr.on && isCommit) {
      val after = walk(wh)
      val changed = after.filter { case (_, (_, identity)) => !before(identity) }
      val (meta, data) = changed.partition { case (p, _) => Layers.isMeta(p) }
      Layers.commitFiles(id) = (meta.size.toLong, meta.values.map(_._1).sum,
        data.values.map(_._1).sum)
      dataFiles = after.keys.filter(p => !Layers.isMeta(p) && !p.endsWith(".crc"))
        .groupBy(_.takeWhile(_ != '/').stripSuffix(".parquet")).map { case (k, v) => k -> v.size }
    }
    if (tr.on && !isCommit) Layers.tableFiles(id) = dataFiles.getOrElse(t, 0).toLong
    out
  }

  override def facts: Map[String, Any] = Map("table_bytes_after_vacuum" -> tableBytes)
}

// ----------------------------------------------------------------- llm_index

/** Per round: drop the session memos, build (BPE merges, a direct minhash
  * kernel pass, LSH pairs + connected components, k-means and PQ
  * codebooks), then seeded IVF and PQ top-k searches that hit the memos. */
final class LlmIndex(ctx: Ctx) extends Workload {
  import ctx._
  import graft.llm.{Bpe, Dedup, Similarity}
  private val wh = s"$root/wh"
  private val ivfKey = s"perfbench-ivf|$wh"
  private val pqKey = s"perfbench-pq|$wh"
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var base: DataFrame = _

  def setupRound(r: Int): Unit = {
    graft.Caches.drain()
    graft.Caches.clearMemo()
    val db = tr.call("api", "connect") { Datum.connect(s"parquet://$wh")(spark) }
    docs = tr.call("api", "table")(db.table("documents").df)
    emb = tr.call("api", "table")(db.table("embeddings").df)
    base = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("emb"))
  }

  def runRound(r: Int): Unit = plan.filter(n => int(n, "round") == r).foreach { op =>
    val id = str(op, "id")
    val kind = str(op, "kind")
    run(id, kind, r, Map("build" -> !Set("ivf", "pq")(kind))) {
      val out: Any = kind match {
        case "bpe" => tr.call("llm", "Bpe.mergesDf")(Bpe.mergesDf(spark, wh, LlmIndex.BpeMerges).collect())
        case "minhash_kernel" =>
          val rows = tr.call("functions", "minhashSig") {
            docs.select(col("doc_id"),
              graft.functions.TextExpressions.minhashSig(col("text"), 3, 8).as("sig")).collect()
          }
          Layers.kernelRows += rows.length
          rows
        case "dedup" =>
          val pairs = tr.call("llm", "minhashBandPairs") {
            Dedup.minhashBandPairs(docs, "doc_id", "text", 3, 4, 2).persist()
          }
          val p = tr.call("llm", "collect")(pairs.collect())
          Layers.lshPairs += p.length
          val cc = tr.call("llm", "connectedComponents") {
            Dedup.connectedComponents(docs, "doc_id", pairs).collect()
          }
          pairs.unpersist()
          Map("pairs" -> p.toSeq, "components" -> cc.toSeq)
        case "kmeans" =>
          tr.call("llm", "kmeansCentroids")(Similarity.kmeansCentroids(base, "vec_id", 8, LlmIndex.KmeansIters, ivfKey))
            .map(_.toSeq).toSeq
        case "pq_train" =>
          tr.call("llm", "pqCodebooks")(Similarity.pqCodebooks(base, "vec_id", 4, 4, LlmIndex.PqIters, 64, pqKey))
            .map(_.map(_.toSeq).toSeq).toSeq
        case "ivf" =>
          tr.call("llm", "ivfTopK") {
            Similarity.ivfTopK(emb, "vec_id", op.get("q").asLong(), 8, 2, 10, LlmIndex.KmeansIters, ivfKey).collect()
          }
        case "pq" =>
          tr.call("llm", "pqTopK") {
            Similarity.pqTopK(emb, "vec_id", op.get("q").asLong(), 4, 4, LlmIndex.PqIters, 10, 64, pqKey).collect()
          }
      }
      tr.call("bench", "Caches.drain")(graft.Caches.drain())
      out
    }
  }
}

object LlmIndex {
  // model sizes, shared with check.py: BPE merges, Lloyd iterations of the
  // IVF quantiser (8 lists, 2 probed) and of the PQ codebooks (4 × 4)
  val BpeMerges = 2
  val KmeansIters = 2
  val PqIters = 1
}

// ------------------------------------------------------------ stream_windows

/** Micro-batch files offered one at a time to each of four queries, each
  * file after the query committed the previous one: tumbling windows,
  * sessions and dedup into exactly-once parquet sinks, and per-user running
  * state folded into an upsert sink.  Every query reads its own input directory,
  * so one op is one query's micro-batch and the queries do not contend. */
final class StreamWindows(ctx: Ctx) extends Workload {
  import ctx._
  import graft.stream.EventWindows
  private val src = new File(root, "stream_src")
  private val files = plan.map(n => str(n, "file"))
  private val names = Seq("tumble", "sessions", "dedup", "stats")
  private var dir: File = _
  private var queries = Seq.empty[StreamingQuery]
  private val roundFacts = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def offer(q: String, i: Int): Unit =
    Files.move(new File(dir, s"stage/$q/${files(i)}").toPath,
      new File(dir, s"in/$q/${files(i)}").toPath, StandardCopyOption.ATOMIC_MOVE)

  private def stopRound(batches: Int): Unit = if (queries.nonEmpty) {
    val wm = names.zip(queries).map { case (n, q) => n -> Option(q.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark"))).orNull }.toMap
    queries.foreach(_.stop())
    queries = Nil
    roundFacts += Map("dir" -> dir.getPath, "watermarks" -> wm, "files" -> batches)
  }
  private var offered = 0

  def setupRound(r: Int): Unit = {
    stopRound(offered)
    dir = new File(root, s"stream/r$r")
    names.foreach { q =>
      new File(dir, s"in/$q").mkdirs()
      new File(dir, s"stage/$q").mkdirs()
      files.foreach(f => Files.copy(new File(src, f).toPath, new File(dir, s"stage/$q/$f").toPath))
      offer(q, 0)
    }
    offered = 1
    // the state here is tiny (per window / user); one state store per
    // operator keeps the per-batch commit cost at its floor
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val d = dir.getPath
    def events(q: String) = tr.call("stream", "readStreamEvents") {
      EventWindows.readStreamEvents(spark, s"$d/in/$q")
    }
    def sink(name: String, df: DataFrame): StreamingQuery = tr.call("stream", "toParquetSink") {
      EventWindows.toParquetSink(df, s"$d/$name", s"$d/chk_$name")
    }
    val tumble = EventWindows.tumblingStream(events("tumble"), "15 minutes", "10 minutes")
    val sess = EventWindows.sessionsStream(events("sessions"), "15 minutes", "30 minutes")
    val dedup = EventWindows.dedupStream(events("dedup"), "15 minutes").select(col("event_id"),
      unix_micros(col("ts")).as("us"), col("user_id"), col("event_type"), col("value"))
    val qs = mutable.ArrayBuffer(sink("tumble", tumble), sink("sessions", sess), sink("dedup", dedup))
    // running per-user state, folded into a keyed latest-state table: the
    // update with the most events is the newest state of a user
    qs += tr.call("stream", "userRunningStats") {
      EventWindows.userRunningStats(spark, events("stats")).toDF().writeStream
        .outputMode("update").option("checkpointLocation", s"$d/chk_stats")
        .foreachBatch { (b: DataFrame, _: Long) =>
          EventWindows.upsertMerge(b.select(col("user_id"), col("n_events").as("event_id"),
            col("last_us").as("us"), col("sum_value")), s"$d/stats", s"$d/stats_stage")
        }.start()
    }
    queries = qs.toSeq
    queries.foreach(q => tr.call("stream", "processAllAvailable")(q.processAllAvailable()))
  }

  def runRound(r: Int): Unit = (1 until files.size).foreach { i =>
    names.zip(queries).foreach { case (n, q) =>
      run(s"r$r.b$i.$n", "batch", r, Map("file" -> files(i), "query" -> n)) {
        tr.call("stream", "offer")(offer(n, i))
        tr.call("stream", "processAllAvailable")(q.processAllAvailable())
        Map("batch" -> q.lastProgress.batchId)
      }
    }
    offered = i + 1
  }

  override def finish(): Unit = stopRound(offered)
  override def facts: Map[String, Any] = Map("rounds" -> roundFacts.toSeq)
}
