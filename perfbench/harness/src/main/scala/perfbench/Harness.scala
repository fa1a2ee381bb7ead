package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.DrainBus
import org.apache.spark.sql.{Row, SparkSession}

import graft.core.GraphState
import graft.cypher.{CypherParser, Planner}
import graft.operators.Scratch
import graft.sources.PokecGraphLoader

/** Closed-loop, single-client statement runner.
  *
  * It calls the engine only through its public entry points:
  * `PokecGraphLoader` + `GraphState.adjacencyBySrc` (sources),
  * `CypherParser.parse` (parse), `new Planner(..).plan` (plan) and
  * `collect()` on the planned frame (exec). Writes continue from
  * `planner.currentState`, re-based above the statement's id high water.
  *
  * Usage:
  *   Harness <schedule.tsv> <out dir> <seconds> <trace 0|1> <cores>
  *           <sweep 0|1> <cycle length> <data dir>...
  *
  * One set-up runs per data dir (each a copy of the same graph, so the
  * loader cache never serves a previous set-up); the timed loop runs on
  * the last one. The schedule holds warm-up statements (`W`, run once per
  * set-up) and timed statements (`T`, run in order, in whole cycles of
  * `cycle length` statements, until `seconds` have passed).
  * Output: `results.tsv` (one line per timed statement, rows as JSON),
  * `metrics.json`, and with tracing `trace.json`.
  */
object Harness {

  final case class Stmt(
      kind: String, idx: Int, template: String, cls: String,
      params: Map[String, Any], cypher: String)

  final case class Outcome(
      parseNs: Long, planNs: Long, execNs: Long,
      rows: Array[Row], error: Option[Throwable], next: Option[GraphState])

  def main(args: Array[String]): Unit = {
    val Array(schedPath, outDir, secondsS, traceS, coresS, sweepS, cycleS) =
      args.take(7)
    val dataDirs = args.drop(7).toSeq
    val cycle = cycleS.toInt
    val seconds = secondsS.toDouble
    val tracing = traceS == "1"
    val sweepEach = sweepS == "1"
    val stmts = readSchedule(schedPath)
    val warm = stmts.filter(_.kind == "W")
    val timed = stmts.filter(_.kind == "T")

    val spark = SparkSession.builder()
      .master(s"local[$coresS]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", coresS)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tracer = if (tracing) Some(new Tracer) else None
    tracer.foreach(sc.addSparkListener)
    val spans = new Spans
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val gcProbe = new GcProbe
    val errors = ArrayBuffer.empty[String]

    def runStmt(g: GraphState, s: Stmt, parent: Int): Outcome = {
      var parseNs, planNs, execNs = 0L
      var rows: Array[Row] = Array.empty
      var next: Option[GraphState] = None
      val err =
        try {
          val t0 = System.nanoTime()
          val ast = spans.span("parse", parent)(CypherParser.parse(s.cypher))
          val t1 = System.nanoTime()
          parseNs = t1 - t0
          val planner = new Planner(spark, g, s.params)
          val df = spans.span("plan", parent)(planner.plan(ast))
          val t2 = System.nanoTime()
          planNs = t2 - t1
          rows = spans.span("exec", parent)(df.collect())
          execNs = System.nanoTime() - t2
          if (s.cls == "write")
            next = Some(planner.currentState.withIdBase(planner.idHighWater))
          None
        } catch { case e: Throwable => Some(e) }
      Outcome(parseNs, planNs, execNs, rows, err, next)
    }

    // ---- set-up: load, index, warm every template; once per data dir ----
    val setupS = ArrayBuffer.empty[Double]
    val loadS = ArrayBuffer.empty[Double]
    val indexS = ArrayBuffer.empty[Double]
    var g: GraphState = null
    dataDirs.zipWithIndex.foreach { case (dir, i) =>
      if (g != null) { spark.catalog.clearCache(); Scratch.sweep() }
      val setupSpan = spans.open("setup", 0)
      val t0 = System.nanoTime()
      g = spans.span("load", setupSpan)(PokecGraphLoader(spark, dir))
      val t1 = System.nanoTime()
      spans.span("index", setupSpan)(g.adjacencyBySrc.count())
      val t2 = System.nanoTime()
      warm.foreach { s =>
        val sp = spans.open("warm", setupSpan)
        val o = runStmt(g, s, sp)
        spans.close(sp)
        o.error.foreach(e =>
          errors += s"warm-up ${s.template} (set-up ${i + 1}): ${oneLine(e)}")
        if (sweepEach) Scratch.sweep()
      }
      // warm-ups never continue a version chain: each starts from g
      Scratch.sweep()
      spans.close(setupSpan)
      val t3 = System.nanoTime()
      loadS += (t1 - t0) / 1e9
      indexS += (t2 - t1) / 1e9
      setupS += (t3 - t0) / 1e9
      gcProbe.forceAndSample()
    }
    val firstStatementS = (System.currentTimeMillis() - jvmStart) / 1e3

    // ---- timed closed loop ----
    val out = new PrintWriter(new File(outDir, "results.tsv"), "UTF-8")
    val storage = new StorageProbe(sc)
    var state = g
    var depth = 0
    var swept = 0L
    var gcTimedMs = 0L
    var done = 0
    val loopSpan = spans.open("loop", 0)
    val loopT0 = System.nanoTime()
    val deadline = loopT0 + (seconds * 1e9).toLong
    val it = timed.iterator
    // the clock is read at cycle boundaries only: every run measures whole
    // cycles, so the same multiset of templates
    while ((done % cycle != 0 || System.nanoTime() < deadline) && it.hasNext) {
      val s = it.next()
      val gc0 = gcProbe.collectionMs
      val sp = spans.open("stmt", loopSpan, s.idx)
      val o = runStmt(state, s, sp)
      spans.close(sp)
      val gcMs = gcProbe.collectionMs - gc0
      gcTimedMs += gcMs
      o.next.foreach { n => state = n; depth += 1 }
      storage.sample()
      // a live mutated version reads checkpoint blocks that a sweep would
      // destroy, so only sessions that never write sweep per statement
      if (sweepEach) swept += Scratch.sweep()
      val payload = o.error match {
        case Some(e) => Json.str(oneLine(e))
        case None => Json.rows(o.rows)
      }
      out.println(Seq(
        s.idx, if (o.error.isEmpty) "ok" else "err", o.parseNs, o.planNs,
        o.execNs, gcMs, depth, payload).mkString("\t"))
      done += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    spans.close(loopSpan)
    out.close()
    if (loopS < seconds || done % cycle != 0)
      errors += s"schedule exhausted after $done statements: make it longer"
    gcProbe.forceAndSample()
    val liveCachedMb = storage.currentMb()

    val metrics = Map[String, Any](
      "session_s" -> sessionS,
      "first_statement_s" -> firstStatementS,
      "setup_s" -> setupS.toSeq,
      "load_s" -> loadS.toSeq,
      "index_s" -> indexS.toSeq,
      "loop_s" -> loopS,
      "statements" -> done,
      "cached_peak_mb" -> storage.peakMb,
      "live_cached_mb" -> liveCachedMb,
      "heap_live_peak_mb" -> gcProbe.oldGenPeakMb,
      "gc_timed_ms" -> gcTimedMs,
      "scratch_blocks" -> swept,
      "version_depth" -> depth,
      "cores" -> coresS.toInt,
      "errors" -> errors.toSeq)
    writeFile(new File(outDir, "metrics.json"), Json.value(metrics))

    tracer.foreach { t =>
      DrainBus(sc)
      writeFile(new File(outDir, "trace.json"), t.report(spans))
    }
    spark.stop()
  }

  private def oneLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .replaceAll("\\s+", " ").take(400)

  private def writeFile(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.print(s) finally w.close()
  }

  /** Schedule line: kind, idx, template, class, params, cypher — tab
    * separated. Params are `name=type:value` joined by `;`, type `L`
    * (long), `S` (string) or `LL` (comma-separated longs). */
  def readSchedule(path: String): Seq[Stmt] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(kind, idx, tpl, cls, ps, cypher) = line.split("\t", 6)
      val params = ps.split(";").filter(_.nonEmpty).map { p =>
        val Array(name, tv) = p.split("=", 2)
        val Array(t, v) = tv.split(":", 2)
        name -> (t match {
          case "L" => v.toLong
          case "S" => v
          case "LL" =>
            v.split(",").filter(_.nonEmpty).map(_.toLong).toSeq
        })
      }.toMap
      Stmt(kind, idx.toInt, tpl, cls, params, cypher)
    }.toVector
    finally src.close()
  }
}

/** Peak storage-memory occupancy: cached frames plus checkpoint blocks. */
final class StorageProbe(sc: org.apache.spark.SparkContext) {
  var peakMb = 0.0
  def currentMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  def sample(): Unit = peakMb = math.max(peakMb, currentMb())
}

/** Old-generation occupancy after collection, and total collection time. */
final class GcProbe {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  var oldGenPeakMb = 0.0
  def collectionMs: Long = beans.map(_.getCollectionTime.max(0L)).sum
  /** Live old generation after a full collection; called only outside the
    * timed region (after each set-up and after the loop). */
  def forceAndSample(): Unit = {
    // the second collection frees what Spark's ContextCleaner released on
    // its reference queue after the first one
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldPools.foreach { p =>
      val u = p.getCollectionUsage
      if (u != null) oldGenPeakMb = math.max(oldGenPeakMb, u.getUsed / 1048576.0)
    }
  }
}

/** Minimal JSON encoder for result rows and metric maps. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: scala.math.BigDecimal => n.bigDecimal.toPlainString
    case n: Number => n.toString
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def rows(rs: Array[Row]): String = rs.map(value).mkString("[", ",", "]")
}
