package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side: one closed-loop client that runs registry
  * rows (`fn(spark, dataDir)` then `collect()`) one after another on a
  * `local[cores]` session whose graft catalog is bound to a fresh durable
  * root. `perfbench/run.py` starts it, checks the fingerprints it records
  * against DuckDB, and turns the record it writes into metrics.
  *
  * Order of a run: session set-up; `--warmups` untimed invocations of
  * every row in name order; `--passes` timed passes, each over all rows
  * in an order drawn from the seed. With `--trace 1` the passes are
  * untraced, traced, traced, untraced; traced passes have listeners
  * attached and a scan of the catalog root between ops. Direct timed
  * calls into single layers follow.
  */
object Harness {
  private final case class Op(row: String, pass: Int, pos: Int, traced: Boolean,
      startUs: Long, endUs: Long, fp: String, err: String,
      confLeaks: Int, cacheLeaks: Int, streamLeaks: Int) {
    def seconds: Double = (endUs - startUs) / 1e6
  }

  private val nanoBase = System.nanoTime()
  private val wallBaseUs = System.currentTimeMillis() * 1000L
  private def nowUs: Long = wallBaseUs + (System.nanoTime() - nanoBase) / 1000L

  private def mark(what: String): Unit = System.err.println(
    f"[harness] $what at ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f s")

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--dump-oracle")) {
      // The registry's DuckDB twins, {row: sql}; run.py computes the
      // expected answers from them before the timed run.
      Files.writeString(Paths.get(argv(1)),
        Json.obj(SparkEntry.oracleSql.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }))
      return
    }
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val registry = SparkEntry.queries
    val rows = if (a("rows") == "all") registry.keys.toSeq.sorted else a("rows").split(",").toSeq
    val seed = a("seed").toLong
    val passes = a("passes").toInt
    val traced = a("trace") == "1"
    val data = a("data")
    val root = Paths.get(a("root"))
    val out = Paths.get(a("out"))
    val runId = a("run-id")
    val cores = Runtime.getRuntime.availableProcessors()
    mark("main entered")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("tmp"))
      .config("spark.sql.warehouse.dir", s"${a("tmp")}/warehouse")
      .config("spark.sql.catalog.graft.root", root.toString)
      .withExtensions(new graft.GraftExtensions())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mark("session ready")

    val missing = rows.filterNot(registry.contains)
    require(missing.isEmpty, s"rows not in the registry: ${missing.mkString(", ")}")
    val baseConf = spark.conf.getAll
    mark("registry ready")

    def runOp(row: String, pass: Int, pos: Int, isTraced: Boolean): Op = {
      val fn = registry(row)
      val t0 = nowUs
      var result: (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row]) = null
      val err = try {
        val df = fn(spark, data)
        result = (df.schema, df.collect())
        ""
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(400) }
      val t1 = nowUs
      // Everything below is outside the op's clock.
      val fp = if (result == null) "" else Fingerprint.of(result._1, result._2)
      val leakedStreams = spark.streams.active
      leakedStreams.foreach(q => try q.stop() catch { case _: Throwable => () })
      val cached = math.max(spark.sparkContext.getPersistentRDDs.size,
        if (spark.sharedState.cacheManager.isEmpty) 0 else 1)
      spark.catalog.clearCache()
      val now = spark.conf.getAll
      val changed = (now.keySet ++ baseConf.keySet).filter(k => now.get(k) != baseConf.get(k))
      changed.foreach { k =>
        try baseConf.get(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        } catch { case _: Throwable => () }
      }
      Op(row, pass, pos, isTraced, t0, t1, fp, err, changed.size, cached, leakedStreams.length)
    }

    // Warm-up, untimed: every row in name order, `--warmups` times
    // (fixtures, codegen, and the first JIT compilations).
    val warm = Seq.fill(a("warmups").toInt)(rows.sorted.map(r => runOp(r, -1, 0, isTraced = false))).flatten
    val firstOpUs = nowUs
    mark("warm-up done")

    val rng = new scala.util.Random(seed)
    val ops = ArrayBuffer[Op]()
    val untracedPasses, tracedPasses = ArrayBuffer[Double]()
    val windows = ArrayBuffer[(Long, Long)]()
    val scans = ArrayBuffer[Seq[Map[String, Long]]]()
    var gcTraced = 0.0
    val trace = if (traced) Some(new Trace(runId)) else None

    def runPass(isTraced: Boolean): Unit = {
      val passNo = untracedPasses.length + tracedPasses.length
      val order = rng.shuffle(rows)
      val gc0 = gcSeconds()
      val w0 = nowUs
      val passScans = ArrayBuffer[Map[String, Long]]()
      if (isTraced) passScans += RootScan.of(root)
      val passOps = order.zipWithIndex.map { case (r, i) =>
        val op = runOp(r, passNo, i, isTraced)
        if (isTraced) passScans += RootScan.of(root)
        op
      }
      if (isTraced) {
        windows += ((w0, nowUs))
        scans += passScans.toSeq
        gcTraced += gcSeconds() - gc0
      }
      ops ++= passOps
      (if (isTraced) tracedPasses else untracedPasses) += passOps.map(_.seconds).sum
    }

    // Untraced: `--passes` passes. Traced: untraced, traced, traced,
    // untraced, so linear warm-up drift cancels out of the mean traced
    // over the mean untraced pass time (trace.overhead_ratio). The
    // listeners attach before the first traced pass; after the last one
    // the listener bus is drained and they detach, so the final pass runs
    // with nothing attached, like the first.
    val plan = if (traced) Seq(false, true, true, false) else Seq.fill(passes)(false)
    val calibrationBefore = Calibration.run(spark, cores)
    plan.foreach { isTraced =>
      trace.foreach { t =>
        if (isTraced && !t.attached) t.attach(spark)
        if (!isTraced && t.attached) t.detach(spark)
      }
      runPass(isTraced)
    }
    val calibration = math.min(calibrationBefore, Calibration.run(spark, cores))

    mark("passes done")
    // The direct layer calls run traced: their job counts come from the listener.
    trace.foreach(_.attach(spark))
    val layerCalls = trace.map(_ => LayerCalls.run(spark, data, runId, () => nowUs)).getOrElse(LayerCalls.Result.empty)
    mark("layer calls done")
    val rootBytesEnd = RootScan.of(root).values.sum
    val peakRssMb = peakRss()
    // DuckDB's answers (parquet, one per row with an oracle), digested by
    // the same code as the ops' results.
    val expected = a.get("expected").toSeq.flatMap(f => Files.readAllLines(Paths.get(f)).asScala)
      .map(_.split("\t", 2)).collect { case Array(row, path) =>
        row -> (try {
          val df = spark.read.parquet(path)
          Fingerprint.of(df.schema, df.collect())
        } catch { case e: Throwable => s"ERROR: ${e.getClass.getName}: ${e.getMessage}".take(400) })
      }
    spark.stop()
    mark("session stopped")

    val tracedOps = ops.filter(_.traced).toSeq
    val opSpans = tracedOps.map(o => Span(s"$runId/op${o.pass}.${o.pos}", s"$runId/pass${o.pass}",
      "op", s"${o.row} pass=${o.pass} pos=${o.pos}", o.startUs, o.endUs))
    val layer: Map[String, Double] = trace.map { t =>
      Reduce(t, opSpans, windows.toSeq, tracedPasses.toSeq, untracedPasses.toSeq, cores, scans.toSeq,
        gcTraced, rootBytesEnd, layerCalls, tracedOps.map(o => (o.confLeaks, o.cacheLeaks, o.streamLeaks)))
    }.getOrElse(Map.empty)

    trace.foreach { t =>
      val passSpans = opSpans.groupBy(_.parent).toSeq.map { case (p, s) =>
        Span(p, runId, "pass", p, s.map(_.startUs).min, s.map(_.endUs).max) }
      val all = passSpans ++ opSpans ++ t.sqlSpans.asScala ++ t.jobSpans.asScala ++
        t.stageSpans.asScala ++ t.batchSpans ++ layerCalls.spans
      Files.write(Paths.get(out.toString + ".spans.jsonl"), all.map(Json.span).asJava)
    }

    val json = Json.obj(Seq(
      "run_id" -> Json.str(runId),
      "cores" -> cores.toString,
      "first_op_epoch_ms" -> (firstOpUs / 1000).toString,
      "peak_rss_mb" -> peakRssMb.toString,
      "calibration_s" -> calibration.toString,
      "expected" -> Json.obj(expected.sorted.map { case (k, v) => k -> Json.str(v) }),
      "warmup" -> Json.arr(warm.map(Json.op(_))),
      "ops" -> Json.arr(ops.toSeq.map(Json.op(_))),
      "untraced_passes" -> Json.arr(untracedPasses.toSeq.map(_.toString)),
      "traced_passes" -> Json.arr(tracedPasses.toSeq.map(_.toString)),
      "layer" -> Json.obj(layer.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(out, json)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRss(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
    def op(o: Op): String = obj(Seq("row" -> str(o.row), "pass" -> o.pass.toString, "pos" -> o.pos.toString,
      "traced" -> o.traced.toString, "s" -> o.seconds.toString, "fp" -> str(o.fp), "err" -> str(o.err),
      "conf_leaks" -> o.confLeaks.toString, "cache_leaks" -> o.cacheLeaks.toString,
      "stream_leaks" -> o.streamLeaks.toString))
    def span(s: Span): String = obj(Seq("id" -> str(s.id), "parent" -> str(s.parent), "kind" -> str(s.kind),
      "name" -> str(s.name), "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString))
  }
}

/** Sizes of every file under the catalog root, taken between ops. */
private[perfbench] object RootScan {
  def of(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => p.toString -> (try Files.size(p) catch { case _: java.io.IOException => 0L })).toMap
      finally s.close()
    }
}
