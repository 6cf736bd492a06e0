package perfbench

import java.io.{ByteArrayInputStream, OutputStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.server.Engine
import graft.server.ch.Formats
import graft.server.pg.{CsvValues, PgTypes, Payload, WireIn, WireOut}

/** In-process replay of the statements one wire run sent, split across
  * the server's layers by timing calls into their public functions.
  *
  * Every statement of the measured window runs twice on its client's
  * thread, once with spans off and once with spans on (the order
  * alternates per statement, so neither mode always runs warmer);
  * statements sent before the window run once, untraced, as warm-up.
  * Spans carry a name, start, end, parent and statement id, are kept in
  * memory and written out at the end; a SparkListener attributes jobs, stages, tasks and shuffle to
  * each execution through the job group set here.
  *
  *   Trace FIXTURE_DIR DB_DIR STMTS.tsv CLIENTS OUT.json SPANS.tsv
  *
  * STMTS.tsv: client, kind, proto, call, fmt, in-window flag, then
  * base64 of the SQL, the COPY/INSERT payload and the PG client bytes.
  * Client -1 rows are untimed set-up statements.
  */
object Trace {

  final case class Stmt(id: Int, client: Int, kind: String, proto: String, call: String,
      fmt: String, window: Boolean, sql: String, payload: Array[Byte], wire: Array[Byte])

  // ---------------------------------------------------------------- spans

  /** Spans of one execution; `on = false` records nothing. */
  final class Spans(val on: Boolean) {
    val names = ArrayBuffer.empty[String]
    val starts = ArrayBuffer.empty[Long]
    val ends = ArrayBuffer.empty[Long]
    val parents = ArrayBuffer.empty[Int]
    private var cur = -1

    def apply[A](name: String)(body: => A): A =
      if (!on) body
      else {
        val id = open(name, System.nanoTime())
        val saved = cur
        cur = id
        try body finally { ends(id) = System.nanoTime(); cur = saved }
      }

    /** A child of the open span standing for `ns` accumulated over many
      * short calls (per-row render, framing, iterator pulls). */
    def aggregate(name: String, start: Long, ns: Long): Unit =
      if (on) { val id = open(name, start); ends(id) = start + ns }

    private def open(name: String, t: Long): Int = {
      names += name; starts += t; ends += 0L; parents += cur
      names.size - 1
    }

    def dur(i: Int): Long = ends(i) - starts(i)

    /** Duration minus the time its child spans cover, per span (ns). */
    def selfTimes: IndexedSeq[Long] = {
      val child = new Array[Long](names.size)
      for (i <- names.indices if parents(i) >= 0) child(parents(i)) += dur(i)
      names.indices.map(i => dur(i) - child(i))
    }

    /** name -> summed self time (ns) and summed duration (ns). */
    def byName: Map[String, (Long, Long)] = {
      val self = selfTimes
      names.indices.groupBy(names(_)).map { case (n, is) => n -> (is.map(self).sum, is.map(dur).sum) }
    }
  }

  final class Counting extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }

  /** Per-execution facts that are not spans. */
  final class Facts {
    var cells = 0L
    var rows = 0L
    var firstRowNs = -1L
    var planNodes = 0
    var exchanges = 0
    var bytesOut = 0L
    var appendBatches = 0
    var rowReturning = false
  }

  // --------------------------------------------------------- spark listener

  final class JobStats {
    @volatile var jobs = 0
    @volatile var tasks = 0
    @volatile var taskRunMs = 0L
    @volatile var taskCpuNs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var schedWaitMs = 0L
  }

  final class Attribution extends SparkListener {
    val byGroup = new ConcurrentHashMap[String, JobStats]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private def stats(g: String) = byGroup.computeIfAbsent(g, _ => new JobStats)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach { group =>
        stats(group).jobs += 1
        jobSubmit.put(e.jobId, e.time)
        e.stageIds.foreach { s => stageGroup.put(s, group); stageJob.put(s, e.jobId) }
      }
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val job = stageJob.get(e.stageId)
        Option(jobSubmit.remove(job)).foreach { t =>
          stats(g).schedWaitMs += math.max(0L, e.taskInfo.launchTime - t)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val s = stats(g)
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.taskRunMs += m.executorRunTime
          s.taskCpuNs += m.executorCpuTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  // ------------------------------------------------------------- replay

  private val copyRe = """(?is)^\s*copy\s+([\w.]+)\s*(?:\(([^)]*)\))?\s+from\s+stdin.*$""".r
  private val insertFmtRe = """(?is)^\s*insert\s+into\s+([\w.]+)\s+format\s+(\w+)\s*$""".r
  private val formatRe = """(?is)\s+format\s+(\w+)\s*$""".r
  private val rowHeads =
    Set("select", "with", "values", "table", "show", "describe", "desc", "explain", "pivot")

  /** `$n` → literal, like the PG connection's private parameter splice
    * (integers and decimals unquoted, everything else quoted). */
  def substitute(sql: String, params: Seq[Option[String]]): String =
    """\$(\d+)""".r.replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement(
      params.lift(m.group(1).toInt - 1).flatten match {
        case None => "NULL"
        case Some(s) if s.matches("[+-]?\\d+") && s.length < 19 => s
        case Some(s) if s.matches("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?") => s
        case Some(s) => "'" + s.replace("'", "''") + "'"
      }))

  final case class Decoded(sql: String, params: Seq[Option[String]], resultFmt: Int,
      copyData: Array[Byte])

  /** WireIn + Payload over the recorded client bytes of one statement. */
  def decode(wire: Array[Byte]): Decoded = {
    val in = new WireIn(new ByteArrayInputStream(wire))
    var sql = ""
    var params = Seq.empty[Option[String]]
    var fmt = 0
    val copy = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      val (t, body) = in.readMessage()
      val p = new Payload(body)
      t.toChar match {
        case 'Q' => sql = p.cstr(); if (copyRe.findFirstIn(sql).isEmpty) done = true
        case 'P' => p.cstr(); sql = p.cstr(); val n = p.int16(); (0 until n).foreach(_ => p.int32())
        case 'B' =>
          p.cstr(); p.cstr()
          val nf = p.int16(); (0 until nf).foreach(_ => p.int16())
          val np = p.int16()
          params = (0 until np).map { _ =>
            val len = p.int32()
            if (len < 0) None else Some(new String(p.bytes(len), UTF_8))
          }
          val nr = p.int16()
          fmt = if (nr > 0) p.int16() else 0
        case 'd' => copy.write(body)
        case 'c' | 'S' => done = true
        case _ =>
      }
    }
    Decoded(sql, params, fmt, copy.toByteArray)
  }

  def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case p => p
  }

  final class Replayer(spark: SparkSession, engine: Engine) {
    private val sc = spark.sparkContext

    def run(s: Stmt, sp: Spans, f: Facts, group: String): Unit = {
      sc.setJobGroup(group, "perfbench replay", interruptOnCancel = false)
      try sp("statement") {
        if (s.proto == "pg") pg(s, sp, f, group) else ch(s, sp, f, group)
      } finally sc.clearJobGroup()
    }

    private def probeAnalyze(sp: Spans, sql: String): Unit =
      sp("engine.analyze_only") {
        try engine.analyzeOnly(sql).schema
        catch { case _: Exception => } // statements only the intercept chain answers
      }

    private def isRowReturning(sql: String) =
      rowHeads(sql.trim.split("\\s+").headOption.getOrElse("").toLowerCase)

    private def pg(s: Stmt, sp: Spans, f: Facts, group: String): Unit = {
      val d = sp("pg.decode")(decode(s.wire))
      if (s.call == "copy") {
        val m = copyRe.findFirstMatchIn(d.sql).get
        val rows = sp("pg.copy_parse") {
          val table = engine.resolveConnTemp(m.group(1))
          val target = spark.table(table)
          val cols = target.schema.fieldNames.toSeq
          val parsers = cols.map(c => CsvValues.parserFor(target.schema(c).dataType))
          val parsed = CsvValues.parseCsv(new String(d.copyData, UTF_8)).filter(_.nonEmpty)
            .map(fs => fs.zipWithIndex.map { case (v, i) => if (v == null) null else parsers(i)(v) }.toSeq)
          (table, cols, parsed)
        }
        sp("engine.append")(engine.appendBatch(rows._1, rows._2, rows._3))
        f.appendBatches += 1
        frame(sp, f, new Counting)(_.commandComplete(s"COPY ${rows._3.size}"))
        return
      }
      val extended = s.call == "extended"
      val sql = if (extended) substitute(d.sql, d.params) else d.sql
      f.rowReturning = isRowReturning(d.sql)
      sp("engine.rewrite")(engine.rewrite(sql))
      // the extended protocol analyzes at Parse, before Execute, as the
      // server does; for the simple protocol it is a probe, run after
      // execute has built any catalog views the statement reads
      if (extended && f.rowReturning) sp("engine.analyze_only") {
        engine.analyzeOnly(substitute(d.sql, Seq.fill(d.params.size)(None))).schema
      }
      val res = sp("engine.execute")(engine.execute(sql))
      if (!extended && f.rowReturning) probeAnalyze(sp, sql)
      if (res.df == null) { frame(sp, f, new Counting)(_.commandComplete(res.tag)); return }
      plan(res.df, sp, f)
      val schema = res.df.schema
      val binary = extended && d.resultFmt == 1
      val counting = new Counting
      val out = new WireOut(counting)
      sc.setJobGroup(group + "-drain", "perfbench replay drain", interruptOnCancel = false)
      sp("spark.drain") {
        val t0 = System.nanoTime()
        var renderNs, frameNs = 0L
        val it = res.df.toLocalIterator()
        val n = schema.length
        while (it.hasNext) {
          val row = it.next()
          val a = System.nanoTime()
          if (f.firstRowNs < 0) f.firstRowNs = a - t0
          if (binary) {
            val cells = (0 until n).map(i => PgTypes.renderBinary(row.get(i)))
            val b = System.nanoTime()
            out.dataRowBytes(cells)
            renderNs += b - a; frameNs += System.nanoTime() - b
          } else {
            val cells = (0 until n).map(i => PgTypes.render(row.get(i)))
            val b = System.nanoTime()
            out.dataRow(cells)
            renderNs += b - a; frameNs += System.nanoTime() - b
          }
          f.rows += 1
        }
        f.cells += f.rows * n
        sp.aggregate("pg.render", t0, renderNs)
        sp.aggregate("pg.frame", t0 + renderNs, frameNs)
      }
      frame(sp, f, counting, out)(_.commandComplete(s"SELECT ${f.rows}"))
    }

    /** Closing messages through `out` (whose buffered rows it flushes)
      * into `counting`; records the statement's bytes out. */
    private def frame(sp: Spans, f: Facts, counting: Counting, out0: WireOut = null)(
        msg: WireOut => Unit): Unit = sp("pg.frame") {
      val out = if (out0 == null) new WireOut(counting) else out0
      msg(out)
      out.readyForQuery()
      f.bytesOut += counting.n
    }

    private def plan(df: DataFrame, sp: Spans, f: Facts): Unit = {
      val p = sp("catalyst.plan")(physical(df))
      f.planNodes = p.collect { case n => n }.size
      f.exchanges = p.collect { case e: Exchange => e }.size
    }

    private def ch(s: Stmt, sp: Spans, f: Facts, group: String): Unit = {
      insertFmtRe.findFirstMatchIn(s.sql) match {
        case Some(m) =>
          val (table, cols, rows) = sp("ch.read") {
            val t0 = m.group(1)
            val resolved = engine.resolveConnTemp(t0)
            val table = if (resolved != t0) resolved else if (t0.contains(".")) t0 else s"main.$t0"
            val target = spark.table(table)
            val cols = target.schema.fieldNames.toSeq
            val parsers = cols.map(c => CsvValues.parserFor(target.schema(c).dataType))
            val rows = Formats.read(m.group(2), new String(s.payload, UTF_8), cols)
              .filter(_.nonEmpty)
              .map(fs => fs.zipWithIndex.map { case (v, i) => if (v == null) null else parsers(i)(v) })
            (table, cols, rows)
          }
          sp("engine.append")(engine.appendBatch(table, cols, rows))
          f.appendBatches += 1
        case None =>
          var sql = s.sql
          var format = "TabSeparated"
          formatRe.findFirstMatchIn(sql).foreach { m => format = m.group(1); sql = sql.substring(0, m.start) }
          f.rowReturning = true
          sp("engine.rewrite")(engine.rewrite(sql))
          val res = sp("engine.execute")(engine.execute(sql))
          probeAnalyze(sp, sql)
          if (res.df == null) return
          plan(res.df, sp, f)
          val counting = new Counting
          sc.setJobGroup(group + "-drain", "perfbench replay drain", interruptOnCancel = false)
          sp("ch.format") {
            val t0 = System.nanoTime()
            var pullNs = 0L
            val it = res.df.toLocalIterator().asScala
            val timed = new Iterator[Row] {
              def hasNext: Boolean = { val a = System.nanoTime(); try it.hasNext finally pullNs += System.nanoTime() - a }
              def next(): Row = {
                val a = System.nanoTime()
                try it.next() finally {
                  val b = System.nanoTime()
                  pullNs += b - a
                  if (f.firstRowNs < 0) f.firstRowNs = b - t0
                }
              }
            }
            f.rows = Formats.write(format, res.df.schema, timed, counting)
            f.cells = f.rows * res.df.schema.length
            sp.aggregate("spark.drain", t0, pullNs)
          }
          f.bytesOut += counting.n
      }
    }
  }

  // ---------------------------------------------------------------- main

  final case class Exec(s: Stmt, traced: Boolean, ns: Long, spans: Spans, facts: Facts, group: String,
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val Array(fixture, db, stmtsFile, clientsArg, outFile, spansFile) = args
    val spark = graft.engine.GraftSession.local(warehouse = Some(s"$db/warehouse"))
    spark.conf.set(graft.plans.PresentationSort.ConfKey, "true")
    val engine = Engine.bootstrap(spark, fixture, allowFileIo = false, dbPath = Some(db))
    val listener = new Attribution
    spark.sparkContext.addSparkListener(listener)
    val dec = Base64.getDecoder
    val stmts = scala.io.Source.fromFile(stmtsFile, "UTF-8").getLines().zipWithIndex.map {
      case (line, i) =>
        val c = line.split("\t", -1)
        Stmt(i, c(0).toInt, c(1), c(2), c(3), c(4), c(5) == "1", new String(dec.decode(c(6)), UTF_8),
          dec.decode(c(7)), dec.decode(c(8)))
    }.toVector
    val rep = new Replayer(spark, engine)
    stmts.filter(_.client < 0).foreach(s => engine.execute(s.sql))

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val threadBean = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    def allocBytes = threadBean.getThreadAllocatedBytes(threadBean.getAllThreadIds).filter(_ > 0).sum
    val gc0 = gcMs
    val alloc0 = allocBytes

    val nClients = clientsArg.toInt
    val results = Array.fill(nClients)(ArrayBuffer.empty[Exec])
    val threads = (0 until nClients).map { c =>
      new Thread(() => {
        stmts.filter(_.client == c).foreach { s =>
          // statements sent before the measured window only warm this JVM
          val order =
            if (!s.window) Seq(false) else if (s.id % 2 == 0) Seq(false, true) else Seq(true, false)
          order.foreach { traced =>
            val sp = new Spans(traced)
            val f = new Facts
            val group = s"perfbench-${s.id}-${if (traced) "on" else "off"}"
            val t0 = System.nanoTime()
            val err =
              try { rep.run(s, sp, f, group); None }
              catch { case e: Exception => Some(s"${s.proto}.${s.kind}: ${e.getMessage}".take(300)) }
            results(c) += Exec(s, traced, System.nanoTime() - t0, sp, f, group, err)
          }
        }
      }, s"replay-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val gcTotal = gcMs - gc0
    val allocTotal = allocBytes - alloc0
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

    val all = results.flatten.toSeq
    val execs = all.filter(e => e.traced && e.s.window)
    val untraced = all.filter(e => !e.traced && e.s.window)
    def stats(g: String) = Option(listener.byGroup.get(g)).getOrElse(new JobStats)
    def layerValues(e: Exec): Map[String, Double] = {
      val by = e.spans.byName
      def self(n: String) = by.get(n).map(_._1 / 1e6).getOrElse(0.0)
      def total(n: String) = by.get(n).map(_._2 / 1e6).getOrElse(0.0)
      val js = stats(e.group)
      val dj = stats(e.group + "-drain")
      val jobs = js.jobs + dj.jobs
      Map(
        "pg.decode_ms" -> self("pg.decode"),
        "engine.rewrite_ms" -> total("engine.rewrite"),
        "engine.analyze_only_ms" -> total("engine.analyze_only"),
        "engine.execute_ms" -> total("engine.execute"),
        "engine.intercept_ms" -> (total("engine.execute") - total("engine.analyze_only")),
        "catalyst.plan_ms" -> total("catalyst.plan"),
        "catalyst.plan_nodes" -> e.facts.planNodes.toDouble,
        "catalyst.exchanges" -> e.facts.exchanges.toDouble,
        "spark.jobs_per_stmt" -> jobs.toDouble,
        "spark.sched_wait_ms" -> (js.schedWaitMs + dj.schedWaitMs).toDouble,
        "spark.drain_ms" -> total("spark.drain"),
        "spark.tasks" -> (js.tasks + dj.tasks).toDouble,
        "spark.task_run_ms" -> (js.taskRunMs + dj.taskRunMs).toDouble,
        "spark.task_cpu_ms" -> (js.taskCpuNs + dj.taskCpuNs) / 1e6,
        "spark.shuffle_bytes" -> (js.shuffleBytes + dj.shuffleBytes).toDouble,
        "spark.spill_bytes" -> (js.spillBytes + dj.spillBytes).toDouble,
        "spark.result_partitions" -> dj.jobs.toDouble,
        "pg.render_ms" -> total("pg.render"),
        "pg.frame_ms" -> total("pg.frame"),
        "pg.bytes_out" -> (if (e.s.proto == "pg") e.facts.bytesOut.toDouble else 0.0),
        "ch.format_ms" -> self("ch.format"),
        "ch.bytes_out" -> (if (e.s.proto == "ch") e.facts.bytesOut.toDouble else 0.0),
        "pg.copy_parse_ms" -> total("pg.copy_parse"),
        "ch.read_ms" -> total("ch.read"),
        "engine.append_ms" -> total("engine.append"),
        "engine.append_batches" -> e.facts.appendBatches.toDouble,
      )
    }
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def median(xs: Seq[Double]) =
      if (xs.isEmpty) Double.NaN else { val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
    def aggregate(es: Seq[Exec]): mutable.LinkedHashMap[String, Double] = {
      val vals = es.map(layerValues)
      val out = mutable.LinkedHashMap.empty[String, Double]
      if (vals.nonEmpty) vals.head.keys.toSeq.sorted.foreach(k => out(k) = mean(vals.map(_(k))))
      val rowsOut = es.filter(_.facts.rowReturning)
      val renderNs = es.filter(_.s.proto == "pg").map(e => e.spans.byName.get("pg.render").map(_._2).getOrElse(0L)).sum
      val pgCells = es.filter(_.s.proto == "pg").map(_.facts.cells).sum
      out("pg.render_ns_per_cell") = if (pgCells > 0) renderNs.toDouble / pgCells else 0.0
      out("spark.first_row_ms") = mean(rowsOut.filter(_.facts.firstRowNs >= 0).map(_.facts.firstRowNs / 1e6))
      val drainJobs = rowsOut.map(e => stats(e.group + "-drain").jobs).sum
      out("spark.rows_per_job") = if (drainJobs > 0) rowsOut.map(_.facts.rows).sum.toDouble / drainJobs else 0.0
      out
    }

    val metrics = aggregate(execs)
    val execCount = math.max(1, all.size)
    metrics("jvm.alloc_mb_per_stmt") = allocTotal / 1e6 / execCount
    metrics("jvm.gc_ms") = gcTotal.toDouble / execCount
    val onMs = execs.map(_.ns / 1e6).sum
    val offMs = untraced.map(_.ns / 1e6).sum
    metrics("trace.overhead_frac") = if (offMs > 0) (onMs - offMs) / offMs else 0.0

    // self times of every span of a statement add up to its statement
    // span, and none is negative (an aggregate child never outgrows its parent)
    val gaps = execs.map { e =>
      val by = e.spans.byName
      math.abs(by.values.map(_._1).sum - by.get("statement").map(_._2).getOrElse(0L)) / 1e6
    }
    val minSelf = execs.flatMap(_.spans.selfTimes.map(_ / 1e6))
    val kinds = execs.groupBy(e => s"${e.s.proto}.${e.s.kind}").toSeq.sortBy(_._1).map { case (k, es) =>
      val ids = es.map(_.s.id).toSet
      val off = untraced.filter(e => ids(e.s.id)).map(_.ns / 1e6)
      val on = es.map(_.ns / 1e6)
      val layers = aggregate(es).map { case (n, v) => s"${Json.str(n)}: ${num(v)}" }.mkString("{", ", ", "}")
      s"${Json.str(k)}: {\"n\": ${es.size}, \"untraced_p50_ms\": ${num(median(off))}, " +
        s"\"traced_p50_ms\": ${num(median(on))}, \"layers\": $layers}"
    }
    val metricsJson = metrics.map { case (n, v) => s"${Json.str(n)}: ${num(v)}" }.mkString("{", ", ", "}")
    val json = s"""{"metrics": $metricsJson, "kinds": ${kinds.mkString("{", ", ", "}")}, """ +
      s""""check": {"statements": ${execs.size}, "max_selftime_gap_ms": ${num(if (gaps.isEmpty) 0 else gaps.max)}, """ +
      s""""min_self_ms": ${num(if (minSelf.isEmpty) 0 else minSelf.min)}, """ +
      s""""replayed": ${all.size}, "gc_ms_total": $gcTotal, "errors": ${all.count(_.error.isDefined)}, """ +
      s""""first_errors": ${all.flatMap(_.error).take(5).map(Json.str).mkString("[", ", ", "]")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile), json.getBytes(UTF_8))

    val w = new java.io.PrintWriter(spansFile, "UTF-8")
    w.println("stmt\tclient\tkind\tspan\tname\tparent\tstart_ns\tend_ns")
    execs.sortBy(_.s.id).foreach { e =>
      val sp = e.spans
      sp.names.indices.foreach { i =>
        w.println(s"${e.s.id}\t${e.s.client}\t${e.s.kind}\t$i\t${sp.names(i)}\t${sp.parents(i)}\t${sp.starts(i)}\t${sp.ends(i)}")
      }
    }
    w.close()
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
