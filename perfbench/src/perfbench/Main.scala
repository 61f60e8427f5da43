package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

/** One timed op as the checker and the metric code see it. */
final case class OpRec(id: String, kind: String, round: Int, start: Long, end: Long,
    err: Option[String], fs: (Long, Long), extra: Map[String, Any]) {
  def latS: Double = (end - start) / 1e9
}

/** What a round did: its untimed-by-ops set-up and its op interval. */
final case class RoundRec(round: Int, setupS: Double, firstStart: Long, lastEnd: Long)

/** Context shared by the workloads: session, tracer, run root, op log. */
final class Ctx(val spark: SparkSession, val tr: Trace, val root: String,
    val plan: IndexedSeq[JsonNode]) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val outDir = new File(root, "out/ops")
  outDir.mkdirs()

  /** Time one op; `body` returns the op's output, written after the clock
    * stops so that serialising it is not part of the op. */
  def run(id: String, kind: String, round: Int, extra: Map[String, Any] = Map.empty)(
      body: => Any): Option[Any] = {
    val fs0 = FsStats.now()
    val (res, t0, t1) = tr.op(id) {
      try Right(body) catch { case NonFatal(e) => Left(e) }
    }
    val fs1 = FsStats.now()
    val err = res.left.toOption.map(e =>
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
    ops += OpRec(id, kind, round, t0, t1, err, (fs1._1 - fs0._1, fs1._2 - fs0._2), extra)
    res.toOption.map { out =>
      val written = out match {
        case d: DigestRows => Digest.of(d.rows)
        case rows: Array[Row] => Map("rows" -> rows.toSeq)
        case x => x
      }
      Files.write(new File(outDir, s"$id.json").toPath, Json.write(written).getBytes(UTF_8))
      out
    }
  }
}

trait Workload {
  /** Set up round `r` (fresh roots, session state); timed as set-up. */
  def setupRound(r: Int): Unit
  /** Run the timed ops of round `r` through [[Ctx.run]]. */
  def runRound(r: Int): Unit
  /** Stop what the workload started; untimed. */
  def finish(): Unit = ()
  /** Workload facts the checker and the metric code need. */
  def facts: Map[String, Any] = Map.empty
}

object Main {
  def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(root: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.streaming.stopTimeout", "60000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val root = arg(args, "root")
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val mapper = new ObjectMapper()
    val plan = scala.io.Source.fromFile(s"$root/plan.jsonl", "UTF-8").getLines()
      .filter(_.trim.nonEmpty).map(l => mapper.readTree(l)).toIndexedSeq

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(root, cores)
    val tr = new Trace(spark, traced)
    val ctx = new Ctx(spark, tr, root, plan)
    val sessionReadyMs = System.currentTimeMillis()
    val jvm0 = JvmStats.start()

    val w: Workload = workload match {
      case "read_sql"       => new ReadSql(ctx)
      case "table_commits"  => new TableCommits(ctx)
      case "llm_index"      => new LlmIndex(ctx)
      case "stream_windows" => new StreamWindows(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // whole rounds until `seconds` have passed since the first timed op
    val rounds = mutable.ArrayBuffer.empty[RoundRec]
    def deadline = rounds.head.firstStart + (seconds * 1e9).toLong
    var r = 0
    var planned = true
    try {
      while (planned && (r == 0 || System.nanoTime() < deadline)) {
        val s0 = System.nanoTime()
        w.setupRound(r)
        val setupS = (System.nanoTime() - s0) / 1e9
        val before = ctx.ops.size
        w.runRound(r)
        val mine = ctx.ops.drop(before)
        planned = mine.nonEmpty           // the op plan has run out of rounds
        if (planned) rounds += RoundRec(r, setupS, mine.map(_.start).min, mine.map(_.end).max)
        r += 1
      }
    } finally w.finish()
    val jvm = JvmStats.since(jvm0)
    tr.drain()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "cores" -> cores,
      "jvm_start_ms" -> jvmStartMs,
      "session_ready_ms" -> sessionReadyMs,
      "rounds" -> rounds.map(rr => Map("round" -> rr.round, "setup_s" -> rr.setupS,
        "wall_s" -> (rr.lastEnd - rr.firstStart) / 1e9)).toSeq,
      "ops" -> ctx.ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "round" -> o.round,
        "lat_s" -> o.latS, "error" -> o.err.orNull, "fs_written" -> o.fs._1,
        "fs_read" -> o.fs._2) ++ o.extra).toSeq,
      "facts" -> w.facts,
      "jvm" -> jvm)
    if (traced) result("layers") = Layers.summarize(tr, ctx.ops.toSeq, rounds.size)
    Files.write(Paths.get(root, "out", "result.json"), Json.write(result).getBytes(UTF_8))
    spark.stop()
  }
}

/** Hadoop local-FS statistics: (bytes written, bytes read).  The local file
  * system does not count operations, so its op counters are not read. */
object FsStats {
  def now(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }
}

/** GC time and peak heap over the timed part of the run. */
object JvmStats {
  import scala.jdk.CollectionConverters._
  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
  def start(): Long = { heapPools.foreach(_.resetPeakUsage()); gcMs() }
  def since(gc0: Long): Map[String, Any] = Map(
    "gc_s" -> (gcMs() - gc0) / 1e3,
    "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
}

/** Minimal JSON writer for the result records. */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }
  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => put(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case n: Short => sb ++= n.toString
    case n: Byte => sb ++= n.toString
    case d: java.math.BigDecimal => sb ++= d.toPlainString
    case d: java.sql.Date => str(sb, d.toLocalDate.toString)
    case d: java.time.LocalDate => str(sb, d.toString)
    case t: java.sql.Timestamp => str(sb, t.toString)
    case t: java.time.Instant => str(sb, t.toString)
    case t: java.time.LocalDateTime => str(sb, t.toString)
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','; first = false
        str(sb, k.toString); sb += ':'; put(sb, x)
      }
      sb += '}'
    case r: Row => put(sb, r.toSeq)
    case a: Array[_] => put(sb, a.toSeq)
    case s: Iterable[_] =>
      sb += '['
      var first = true
      s.foreach { x => if (!first) sb += ','; first = false; put(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }
}

/** Collected rows that are written as a [[Digest]] rather than in full. */
final case class DigestRows(rows: Array[Row])

/** Order-independent digest of a row set, also computed by the checker:
  * count, and the sum mod 2^64 of a per-row hash that folds each column's
  * 64-bit code through the splitmix64 finaliser. */
object Digest {
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(UTF_8).foreach { b => h = (h ^ (b & 0xff)) * 0x100000001b3L }
    h
  }
  private def code(v: Any): Long = v match {
    case null => 0x9e3779b97f4a7c15L
    case n: Long => n
    case n: Int => n.toLong
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: String => fnv(s)
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case b: Boolean => if (b) 1L else 0L
    case other => fnv(other.toString)
  }
  /** Count and digest (unsigned decimal string) over every column in order. */
  def of(rows: Array[Row]): Map[String, Any] = {
    var sum = 0L
    rows.foreach { r =>
      var h = 0x12345L
      var i = 0
      while (i < r.length) { h = mix(h ^ code(r.get(i))); i += 1 }
      sum += h
    }
    Map("count" -> rows.length.toLong, "digest" -> java.lang.Long.toUnsignedString(sum))
  }
}
