package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import graft.engine.{FQN, GraftSession, SnowflakeRewriter, SnowflakeTypes, Streams}
import graft.protocol.SnowflakeServer
import graft.sources.IcebergLite
import org.apache.spark.sql.{GraftArrow, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's JVM: serves a seeded statement plan through
  * `SnowflakeServer` on loopback and records what a client sees, then
  * (with --trace 1) replays the same statements in-process around the
  * calls `SnowflakeServer.runTracked` makes, to split each statement's
  * time across layers.
  *
  * Usage: WireBench --plan <plan.json> --lake <dir> --out <result.json>
  *   --seconds <s> --trace <0|1> --cpus <n> --deadline-ms <epoch ms>
  *
  * The result file is raw: latencies, decoded results, spans and listener
  * counts. `perfbench/run.py` checks the results against the oracle and
  * derives the metrics. The exit code says only whether it was written.
  * No statement starts after the deadline: a slow run stops its loops
  * there and writes what it has, marked truncated.
  */
object WireBench {
  private val nf = JsonNodeFactory.instance
  /** Rows per wire chunk. Smaller than the server's default (100k) so
    * that the workloads' extracts of a few thousand rows take the chunked
    * path: an inline first chunk, the rest fetched by URL. */
  val chunkRows: Int = 2000
  /** Set-ups per run; `setup_s` takes their median. */
  private val setupReps = 3
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  final case class Stmt(sid: Int, session: Int, sql: String, kind: String,
      cmp: String, table: Option[String])

  private def stmts(node: JsonNode): IndexedSeq[Stmt] =
    node.elements().asScala.map { n =>
      Stmt(n.path("sid").asInt(), n.path("session").asInt(), n.path("sql").asText(),
        n.path("kind").asText(), n.path("cmp").asText(),
        Option(n.get("table")).map(_.asText()))
    }.toIndexedSeq

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = nf.objectNode()
    val outPath = Paths.get(opt("out"))
    var spark: SparkSession = null
    try {
      val plan = WireClient.mapper.readTree(new File(opt("plan")))
      val cpus = opt.getOrElse("cpus", "4")
      spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
        .config("spark.sql.warehouse.dir",
          new File(System.getProperty("java.io.tmpdir"), "spark-warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val sparkReadyMs = System.currentTimeMillis()
      run(spark, plan, opt, out, (sparkReadyMs - jvmStartMs) / 1000.0)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        out.put("fatal", Option(e.getMessage).getOrElse(e.toString))
    }
    Files.writeString(outPath, WireClient.mapper.writeValueAsString(out))
    if (spark != null) spark.stop()
  }

  private def run(spark: SparkSession, plan: JsonNode, opt: Map[String, String],
      out: ObjectNode, sparkStartS: Double): Unit = {
    val lake = opt("lake")
    val seconds = opt("seconds").toDouble
    val deadline = opt("deadline-ms").toLong
    val fixed = plan.path("fixed").asBoolean()
    val setupSql = plan.path("setup").elements().asScala.map(_.asText()).toSeq
    val sessions = plan.path("sessions").elements().asScala.map(stmts).toIndexedSeq
    val warmup = plan.path("warmup").elements().asScala.map(stmts).toIndexedSeq
    val checks = stmts(plan.path("checks"))
    val tables = plan.path("tables").elements().asScala.map(_.asText()).toSeq
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

    val env = out.putObject("env")
    env.put("nproc", Runtime.getRuntime.availableProcessors())
      .put("max_heap_mb", Runtime.getRuntime.maxMemory() / (1 << 20))
      .put("loadavg_start", loadavg())

    // ── set-up, several times; the last server is the one measured ──────
    var server: SnowflakeServer = null
    var clients: IndexedSeq[WireClient] = IndexedSeq.empty
    var warehouse: Path = null
    val repS = (1 to setupReps).map { _ =>
      if (server != null) {
        clients.foreach(_.logout())
        server.stop()
        deleteTree(warehouse)
      }
      val before = warehouses(tmp)
      val t0 = System.nanoTime()
      server = new SnowflakeServer(spark, Some(lake), chunkRows)
      val port = server.start()
      clients = sessions.indices.map(_ => new WireClient(port))
      clients.foreach(_.login())
      setupSql.foreach { q =>
        val res = clients.head.query(q, hashMode = false)
        require(res.ok, s"setup statement failed: $q: ${res.err}")
      }
      val s = (System.nanoTime() - t0) / 1e9
      warehouse = (warehouses(tmp) -- before).head
      s
    }
    val setup = out.putObject("setup")
    setup.put("spark_start_s", sparkStartS)
    val reparr = setup.putArray("reps_s"); repS.foreach(reparr.add(_))
    setup.put("setup_s", sparkStartS + median(repS))

    // ── untimed warm-up (JIT, codegen caches), then the timed closed
    // loop: one thread per client session, each until its stream ends,
    // `endMs` (epoch ms) passes, or the run's deadline passes ──────────
    def loop(streams: IndexedSeq[IndexedSeq[Stmt]], endMs: Long, out: ObjectNode)
        : Boolean = {
      val records = new java.util.concurrent.ConcurrentLinkedQueue[ObjectNode]()
      val loopStart = System.nanoTime()
      val stopMs = math.min(endMs, deadline)
      @volatile var truncated = false
      val threads = streams.indices.map { s =>
        val th = new Thread(() => {
          val it = streams(s).iterator
          while (it.hasNext && System.currentTimeMillis() < stopMs) {
            val st = it.next()
            val r = clients(s).query(st.sql, st.cmp == "hash")
            records.add(record(st, r, (System.nanoTime() - loopStart) / 1e6))
          }
          if (it.hasNext) truncated = true
        }, s"perfbench-client-$s")
        th.start()
        th
      }
      threads.foreach(_.join())
      out.put("wall_s", (System.nanoTime() - loopStart) / 1e9)
      val hs = out.putArray("stmts")
      records.asScala.toSeq.sortBy(_.get("sid").asInt()).foreach(hs.add(_))
      truncated
    }
    // Storage is measured after a fixed sequence of statements, so that
    // it does not depend on how many statements a timed loop completed:
    // the end state of a fixed-count workload, and the state after set-up
    // and warm-up of a timed one.
    def measureStorage(): Unit = {
      val gs = server.sessionOf(clients.head.token).get
      val storage = out.putObject("storage")
      storage.put("warehouse_bytes", dirBytes(warehouse))
      storage.put("live_bytes", tables.map(t => liveFiles(spark, gs, t).map(fileBytes).sum).sum)
      val fpt = storage.putObject("files_per_table")
      tables.foreach(t => fpt.put(t, liveFiles(spark, gs, t).size))
    }
    val warm = out.putObject("warmup")
    warm.put("truncated", loop(warmup, Long.MaxValue, warm))
    if (!fixed) measureStorage()
    val http = out.putObject("http")
    val end = if (fixed) Long.MaxValue else System.currentTimeMillis() + (seconds * 1000).toLong
    http.put("truncated", loop(sessions, end, http))
    val hs = http.withArray[ArrayNode]("stmts")

    // ── untimed: end-state checks, storage, memory ──────────────────────
    val ck = out.putArray("checks")
    checks.foreach(st => ck.add(record(st, clients.head.query(st.sql, st.cmp == "hash"), 0)))
    if (fixed) measureStorage()
    memory(out.putObject("memory"))
    env.put("loadavg_end", loadavg())
    clients.foreach(_.logout())
    server.stop()

    if (opt.getOrElse("trace", "0") == "1") {
      // the first half of what each session ran on the wire, at most the
      // plan's `replay` statements: the replay runs every statement three
      // times, and the run must end in time
      val ran = hs.elements().asScala.map(n => n.get("sid").asInt()).toSet
      val cap = plan.path("replay").asInt(Int.MaxValue)
      val replay = sessions.map { ss =>
        val done = ss.filter(st => ran.contains(st.sid))
        done.take(math.min((done.size + 1) / 2, cap))
      }
      new Replay(spark, lake, setupSql, warmup, tmp, deadline)
        .run(replay, out.putObject("trace"))
    }
  }

  private def record(st: Stmt, r: WireResult, tMs: Double): ObjectNode = {
    val o = nf.objectNode()
    o.put("sid", st.sid).put("session", st.session).put("t_ms", tMs)
      .put("lat_ms", r.latMs).put("ok", r.ok).put("rows", r.rows)
      .put("resp_bytes", r.respBytes).put("chunks", r.chunks)
    if (!r.ok) o.put("err", r.err) else o.set[JsonNode]("result", r.result)
    o
  }

  // ── helpers shared with the replay ────────────────────────────────────

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def warehouses(tmp: Path): Set[Path] =
    Option(tmp.toFile.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("graft_wire_wh"))
      .map(_.toPath).toSet

  def dirBytes(p: Path): Long =
    if (p == null || !Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (p != null && Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  def fileBytes(f: String): Long = {
    val p = if (f.startsWith("file:")) Paths.get(new java.net.URI(f)) else Paths.get(f)
    if (Files.exists(p)) Files.size(p) else 0L
  }

  /** Data files of a table's current snapshot. */
  def liveFiles(spark: SparkSession, gs: GraftSession, table: String): Seq[String] =
    gs.registry.resolve(FQN("GRAFT", "PUBLIC", table))
      .flatMap(ref => Streams.filesOf(spark, ref)._1).map(_.toSeq).getOrElse(Seq.empty)

  def liveRows(spark: SparkSession, gs: GraftSession, table: String): Long =
    gs.registry.resolve(FQN("GRAFT", "PUBLIC", table))
      .filter(_.format == "iceberg")
      .flatMap(ref => IcebergLite.recordCount(spark, ref.path.get)).getOrElse(-1L)

  /** Peak memory the program needed: the process's peak resident set
    * (`VmHWM`) with the pre-touched heap replaced by the heap still live
    * after a full GC. The heap is fixed and fully resident, so `VmHWM`
    * alone moves only with off-heap memory; this moves with either. */
  private def memory(o: ObjectNode): Unit = {
    val mb = 1024.0 * 1024.0
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)
    val bean = ManagementFactory.getMemoryMXBean
    val committed = bean.getHeapMemoryUsage.getCommitted / mb
    System.gc()
    val live = bean.getHeapMemoryUsage.getUsed / mb
    o.put("vm_hwm_mb", hwm).put("heap_committed_mb", committed).put("live_heap_mb", live)
      .put("peak_rss_mb", hwm - committed + live)
  }

  private def loadavg(): String =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Replay of (a prefix of) the statements the wire loop ran, for the
  * per-layer split.
  *
  * Three copies of the workload run side by side, each on its own fresh
  * sessions and warehouse, after the same set-up and warm-up statements
  * (untimed, so writes see the same table state), with one thread per
  * client session as on the wire:
  *   - `wire`: a fresh `SnowflakeServer`, through the HTTP client;
  *   - `untraced`: in-process, exactly the calls `runTracked` makes,
  *     `GraftSession.sql` then `SnowflakeTypes.toRowsetChunked`;
  *   - `traced`: the same work split into its public steps, each under a
  *     span: `GraftSession.sql` (engine), `SnowflakeTypes.toSnowflakeWire`
  *     (encode), forcing `optimizedPlan` and `executedPlan` (plans), and
  *     draining `GraftArrow.toArrowIpcStreamChunks` (encode); a
  *     [[StmtListener]] counts the Spark work under each statement's job
  *     group.
  * Each statement runs on all three before the next one starts, in an
  * order that rotates from statement to statement, so that machine drift
  * and JIT warm-up fall on all three alike: wire − untraced is the
  * protocol's share, traced − untraced the tracing overhead. */
final class Replay(spark: SparkSession, lake: String, setupSql: Seq[String],
    warmup: IndexedSeq[IndexedSeq[WireBench.Stmt]], tmp: Path, deadlineMs: Long) {
  import WireBench._
  private val nf = JsonNodeFactory.instance
  private val prefix = "perfbench-t-"
  private val spill = Files.createTempDirectory(tmp, "perfbench_replay_spill")
  private val spans = new Spans

  private trait Variant {
    def name: String
    def exec(s: Int, st: Stmt): ObjectNode
    def close(): Unit
  }

  /** In-process sessions over a fresh warehouse and catalog. */
  private final class InProcess(traced: Boolean, n: Int) extends Variant {
    val name: String = if (traced) "traced" else "untraced"
    private val warehouse = Files.createTempDirectory(tmp, "perfbench_replay_wh")
    private val catalog = TrieMap.empty[FQN, graft.engine.TableRef]
    private val streams = TrieMap.empty[FQN, graft.engine.StreamState]
    private val sessions = (0 until n).map { _ =>
      val gs = new GraftSession(spark, warehouse.toString, Some(catalog), Some(streams))
      gs.attachLake(lake)
      gs
    }
    setupSql.foreach(q => plain(sessions.head, -1, q))
    parallel(warmup.indices)(s => warmup(s).foreach(st => plain(sessions(s), -1, st.sql)))

    def exec(s: Int, st: Stmt): ObjectNode =
      if (traced) tracedStmt(sessions(s), warehouse, st)
      else {
        val a = System.nanoTime()
        val ok = plain(sessions(s), st.sid, st.sql)
        nf.objectNode().put("sid", st.sid).put("lat_ms", (System.nanoTime() - a) / 1e6)
          .put("ok", ok)
      }
    def close(): Unit = deleteTree(warehouse)
  }

  /** A fresh server on its own warehouse, driven through the wire. */
  private final class Wire(n: Int) extends Variant {
    val name = "wire"
    private val server = new SnowflakeServer(spark, Some(lake), chunkRows)
    private val port = server.start()
    private val clients = (0 until n).map(_ => new WireClient(port))
    clients.foreach(_.login())
    setupSql.foreach(q => clients.head.query(q, hashMode = false))
    parallel(warmup.indices)(s => warmup(s).foreach(st => clients(s).query(st.sql, hashMode = false)))
    def exec(s: Int, st: Stmt): ObjectNode = {
      val r = clients(s).query(st.sql, st.cmp == "hash")
      nf.objectNode().put("sid", st.sid).put("lat_ms", r.latMs).put("ok", r.ok)
    }
    def close(): Unit = { clients.foreach(_.logout()); server.stop() }
  }

  private def parallel(ids: Range)(f: Int => Unit): Unit = {
    val threads = ids.map { i =>
      val th = new Thread(() => f(i), s"perfbench-replay-$i")
      th.start()
      th
    }
    threads.foreach(_.join())
  }

  def run(sessions: IndexedSeq[IndexedSeq[Stmt]], out: ObjectNode): Unit = {
    if (System.currentTimeMillis() >= deadlineMs) {
      // past the run's deadline: no copy is set up, nothing is replayed
      out.put("wall_s", 0.0).put("truncated", true).put("executions", 0).put("gc_ms", 0)
      out.set[JsonNode]("spans", spans.toJson)
      out.putObject("groups")
      out.put("group_prefix", prefix)
      Seq("wire", "untraced", "traced").foreach(out.putArray)
      deleteTree(spill)
      return
    }
    val n = sessions.size
    spark.catalog.clearCache()
    // the three copies set up side by side; they share nothing but Spark
    val variants = new Array[Variant](3)
    parallel(0 until 3) {
      case 0 => variants(0) = new Wire(n)
      case k => variants(k) = new InProcess(traced = k == 2, n)
    }
    val recs = variants.map(_ => new java.util.concurrent.ConcurrentLinkedQueue[ObjectNode]())
    val listener = new StmtListener(prefix)
    spark.sparkContext.addSparkListener(listener)
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    @volatile var truncated = false
    parallel(sessions.indices) { s =>
      val it = sessions(s).iterator.zipWithIndex
      while (it.hasNext && System.currentTimeMillis() < deadlineMs) {
        val (st, i) = it.next()
        variants.indices.foreach { k =>
          val v = (k + i) % variants.size
          recs(v).add(variants(v).exec(s, st))
        }
      }
      if (it.hasNext) truncated = true
    }
    out.put("wall_s", (System.nanoTime() - t0) / 1e9)
    out.put("truncated", truncated)
    out.put("executions", recs.map(_.size).sum)
    out.put("gc_ms", gcMs() - gc0)
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    out.set[JsonNode]("spans", spans.toJson)
    out.set[JsonNode]("groups", listener.toJson)
    out.put("group_prefix", prefix)
    variants.zip(recs).foreach { case (v, q) =>
      val arr = out.putArray(v.name)
      q.asScala.toSeq.sortBy(_.get("sid").asInt()).foreach(arr.add(_))
      v.close()
    }
    deleteTree(spill)
  }

  /** Exchanges in a drained result plan (its final adaptive plan, query
    * stages and subqueries included). The wire path runs the plan with
    * `executeToIterator`, outside any SQL execution, so the listener sees
    * no plan for it. */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case _ => (p.children ++ p.subqueries).map(exchanges).sum
  }

  /** What `runTracked` does for one statement. */
  private def plain(gs: GraftSession, sid: Int, sql: String): Boolean = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench-u-$sid", "perfbench replay", true)
    try {
      val (_, _, rest) = SnowflakeTypes.toRowsetChunked(gs.sql(sql), chunkRows, Some(spill))
      rest.foreach(c => Files.deleteIfExists(c._2))
      true
    } catch { case NonFatal(_) => false }
    finally sc.clearJobGroup()
  }

  private def tracedStmt(gs: GraftSession, warehouse: Path, st: Stmt): ObjectNode = {
    val o = nf.objectNode().put("sid", st.sid).put("kind", st.kind)
    val write = st.kind == "write"
    val target = st.table.filter(_ => write)
    val filesBefore = target.map(t => liveFiles(spark, gs, t)).getOrElse(Seq.empty)
    target.foreach { t =>
      o.put("files_before", filesBefore.size)
        .put("live_bytes_before", filesBefore.map(fileBytes).sum)
        .put("live_rows_before", liveRows(spark, gs, t))
        .put("wh_bytes_before", dirBytes(warehouse))
    }
    val sc = spark.sparkContext
    val sid = st.sid
    sc.setJobGroup(s"$prefix$sid", "perfbench replay", true)
    val t0 = spans.now()
    var mark = t0
    def span(name: String): Unit = {
      val t = spans.now()
      spans.record(name, mark, t, "stmt", sid)
      mark = t
    }
    try {
      val df = gs.sql(st.sql)
      span("engine.sql")
      o.put("reused", gs.lastResultReused)
      val wire = SnowflakeTypes.toSnowflakeWire(df)
      span("encode.wire")
      wire.queryExecution.optimizedPlan
      span("plans.optimize")
      wire.queryExecution.executedPlan
      span("plans.physical")
      val meta = df.schema.fields.map(f => f.name -> SnowflakeTypes.wireFieldMetadata(f)).toMap
      val it = GraftArrow.toArrowIpcStreamChunks(wire, meta, chunkRows)
      var rows = 0L
      var bytes = 0L
      var chunks = 0
      val files = scala.collection.mutable.ArrayBuffer.empty[Path]
      val (n0, first) = it.next()
      java.util.Base64.getEncoder.encodeToString(first)
      rows += n0; bytes += first.length; chunks += 1
      it.foreach { case (n, b) =>
        val p = Files.createTempFile(spill, "chunk", ".arrow")
        Files.write(p, b)
        files += p
        rows += n; bytes += b.length; chunks += 1
      }
      span("encode.arrow")
      files.foreach(Files.deleteIfExists)
      o.put("ok", true).put("rows", rows).put("arrow_bytes", bytes).put("chunks", chunks)
        .put("plan_exchanges", exchanges(wire.queryExecution.executedPlan))
    } catch {
      case NonFatal(e) =>
        o.put("ok", false).put("err", Option(e.getMessage).getOrElse(e.toString))
    } finally sc.clearJobGroup()
    val t1 = spans.now()
    spans.record("stmt", t0, t1, "", sid)
    o.put("start", t0).put("end", t1)
    target.foreach { t =>
      val files = liveFiles(spark, gs, t)
      o.put("files_after", files.size).put("wh_bytes_after", dirBytes(warehouse))
        .put("files_removed", (filesBefore.toSet -- files.toSet).size)
    }
    if (st.kind == "read") {
      val a = System.nanoTime()
      try SnowflakeRewriter.rewrite(st.sql) catch { case NonFatal(_) => }
      o.put("rewrite_ms", (System.nanoTime() - a) / 1e6)
    }
    o
  }
}
