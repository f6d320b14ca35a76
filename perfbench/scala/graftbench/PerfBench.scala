package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}

import graft.RunPipeline
import graft.etl.{Incremental, Transforms}
import graft.queries.Registry
import graft.source.YouTubeSource
import graft.source.v2.JsonPagesSource
import graft.util.Tables

/** The JVM half of the benchmark: runs one workload in one session as a
  * closed-loop client (each call is issued after the previous returns),
  * times calls into the program's public functions from outside, checks
  * every timed result, and writes the raw records as JSON for
  * perfbench/run.py to summarise.
  *
  *   etl_daily: per iteration a fresh sink and three RunPipeline.run
  *     phases — cold (day 1), noop (day 1 again), incr (day 2).
  *   query_mix: passes over registered queries in a seeded order; each
  *     call is Q.fn, then queryExecution.executedPlan, then collect() of
  *     that plan. collect() rather than count() keeps the timed
  *     execution the one whose rows are checked: count() would plan and
  *     run a second, column-pruned query.
  *
  * With --trace 1, passes alternate between traced (listeners counting,
  * spans recorded) and untraced, so the tracing overhead is the
  * difference of their medians within one run.
  */
object PerfBench {

  final case class Rec(pass: Int, op: String, secs: Double, build: Double,
      plan: Double, exec: Double, ok: Boolean, traced: Boolean, why: String) {
    def json: String = Json.obj(Seq(
      "pass" -> pass.toString, "op" -> Json.str(op), "s" -> Json.num(secs),
      "build" -> Json.num(build), "plan" -> Json.num(plan),
      "exec" -> Json.num(exec), "ok" -> ok.toString,
      "traced" -> traced.toString, "why" -> Json.str(why)))
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val spark = session(work)
    val trace = a.get("trace").contains("1")
    val bench = new PerfBench(spark, work, a("seed").toLong,
      a("seconds").toDouble, trace)
    val out = a("workload") match {
      case "selftest" => bench.selfTest(a("pages"))
      case "etl_daily" => bench.etl(a("pages"), a("expect").split(',').map(_.toLong))
      case _ => bench.queries(a("data"), a("queries").split(',').toSeq,
        a.getOrElse("layouts", "").split(',').filter(_.nonEmpty).toSeq)
    }
    Files.write(Paths.get(a("out")), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def sha(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Relative path -> size of every file under `dir`. */
  def listing(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else Files.walk(dir.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => dir.toPath.relativize(p).toString -> Files.size(p)).toMap

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

final class PerfBench(spark: SparkSession, work: String, seed: Long,
    seconds: Double, trace: Boolean) {
  import PerfBench._

  private val probe = new Probe
  private val spans = new Spans(trace)
  private val recs = mutable.ArrayBuffer.empty[Rec]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private var gcMs = 0L
  private var tracedPasses = 0
  if (trace) probe.register(spark)

  private def now: Double = System.nanoTime() / 1e9
  private def drain(): Unit = PerfBenchBus.drain(spark.sparkContext)
  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Seconds since the JVM started: session start plus the warm-up. */
  private def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Runs passes, op by op, until `seconds` have been measured; the last
    * pass stops at the first op that would start late. The first pass
    * (in a traced run the first two, and every traced pass, so listener
    * counts stay per whole pass) always runs whole, so every op has a
    * sample. `body` gets the pass number, whether it is traced, and a
    * test of whether its next op may start. */
  private def timedLoop(body: (Int, Boolean, () => Boolean) => Unit): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    val t0 = now
    def inTime(pass: Int) = pass == 1 || (trace && pass == 2) || now - t0 < seconds
    var pass = 0
    while (inTime(pass + 1)) {
      pass += 1
      val traced = trace && pass % 2 == 1
      val gc0 = gcTotalMs
      probe.active = traced
      val p = pass
      spans(s"pass $pass")(body(pass, traced, () => traced || inTime(p)))
      drain()
      probe.active = false
      if (traced) { tracedPasses += 1; gcMs += gcTotalMs - gc0 }
      System.gc()
    }
  }

  /** Listener and JVM metrics, per traced pass. */
  private def commonLayers(): Unit = {
    val n = tracedPasses.max(1).toDouble
    Seq("spark.plan_s", "spark.sql_executions", "spark.jobs", "spark.stages",
      "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
      "spark.task_overhead_s", "spark.shuffle_write_mb",
      "spark.shuffle_read_mb", "spark.spill_mb", "spark.driver_result_mb",
      "stream.batches", "stream.input_rows")
      .foreach(k => layers(k) = probe.get(k) / n)
    layers("spark.gc_s") = gcMs / 1e3 / n
    layers("stream.batch_p50_ms") = median(probe.batchDurationsMs)
    layers("jvm.heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    layers("trace.spans") = spans.size
  }

  /** `storeRatio`: bytes the workload keeps on disk per byte of its input. */
  private def output(setup: Double, storeRatio: Double,
      extra: Seq[(String, String)]): String = {
    if (trace) {
      commonLayers()
      Files.write(Paths.get(work, "spans.json"),
        spans.toJson.getBytes(StandardCharsets.UTF_8))
    }
    Json.obj(Seq(
      "setup_s" -> Json.num(setup),
      "store_ratio" -> Json.num(storeRatio),
      "records" -> Json.arr(recs.map(_.json)),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })) ++ extra)
  }

  // ---------------------------------------------------------------- ETL

  private def pages(dir: String, sub: String): Dataset[String] = {
    import spark.implicits._
    spark.read.format(JsonPagesSource.Name).option("path", s"$dir/$sub").load().as[String]
  }

  private def dupIds(sink: String): Long =
    spark.read.parquet(s"$sink/video_stats").groupBy("videoId").count()
      .filter("count > 1").count()

  private def channelRowsHash(sink: String): String =
    sha(spark.read.parquet(s"$sink/channel_stats").collect().map(_.toString).sorted.iterator)

  /** The output check of one phase; "" when it holds. */
  def checkPhase(phase: String, newVideos: Long, expectNew: Long, sink: String,
      before: Option[(Map[String, Long], String)]): String = {
    val vs = new File(s"$sink/video_stats")
    if (newVideos != expectNew) s"$phase: new=$newVideos, expected $expectNew"
    else if (phase == "noop") {
      val (files, rows) = before.get
      if (listing(vs) != files) "noop: video_stats changed"
      else if (channelRowsHash(sink) != rows) "noop: channel_stats content changed"
      else ""
    } else {
      val d = dupIds(sink)
      if (d > 0) s"$phase: $d duplicate videoId in video_stats" else ""
    }
  }

  def etl(pagesRoot: String, expect: Array[Long]): String = {
    val day1 = s"$pagesRoot/day1"
    val day2 = s"$pagesRoot/day2"
    val phases = Seq(("cold", day1, expect(0)), ("noop", day1, 0L),
      ("incr", day2, expect(1)))
    val written = mutable.Map.empty[String, (Double, Double)].withDefaultValue((0.0, 0.0))
    val sink = s"$work/sink"

    def iteration(pass: Int, traced: Boolean, timed: Boolean, go: () => Boolean): Unit = {
      rmrf(new File(sink))
      var broken = false
      for ((phase, dir, exp) <- phases if go()) {
        if (broken) {
          recs += Rec(pass, phase, 0, 0, 0, 0, ok = false, traced, "earlier phase failed")
        } else {
          val noopBefore = if (phase == "noop")
            Some((listing(new File(s"$sink/video_stats")), channelRowsHash(sink))) else None
          val filesBefore = listing(new File(sink))
          probe.scope = phase
          val t0 = now
          val res = try Right(spans(s"etl.$phase")(RunPipeline.run(spark, dir, sink)))
            catch { case e: Throwable => Left(e.toString.take(300)) }
          val dt = now - t0
          drain()
          probe.scope = ""
          val why = res.fold(identity, r => checkPhase(phase, r.newVideos, exp, sink, noopBefore))
          broken = why.nonEmpty
          if (timed) recs += Rec(pass, phase, dt, 0, 0, dt, why.isEmpty, traced, why)
          else if (why.nonEmpty) recs += Rec(0, phase, dt, 0, 0, dt, ok = false, traced, s"warm-up: $why")
          if (traced) {
            val after = listing(new File(sink))
            val changed = after.filter { case (f, sz) => !filesBefore.get(f).contains(sz) }
            val (n, b) = written(phase)
            written(phase) = (n + changed.size, b + changed.values.sum / 1e6)
          }
        }
      }
    }

    iteration(0, traced = false, timed = false, () => true)
    val setup = sinceJvmStart
    timedLoop((pass, traced, go) => iteration(pass, traced, timed = true, go))
    val storeRatio = (listing(new File(s"$sink/video_stats")).values.sum +
      listing(new File(s"$sink/channel_stats")).values.sum).toDouble /
      listing(new File(day2)).values.sum

    if (trace) {
      val n = tracedPasses.max(1).toDouble
      def pageFiles(dir: String) =
        Seq("channels", "playlists", "videos").map(s => listing(new File(s"$dir/$s")).size).sum
      for ((phase, dir, _) <- phases) {
        layers(s"etl.sql_executions.$phase") = probe.get(s"$phase/spark.sql_executions") / n
        layers(s"etl.probe_s.$phase") = probe.get(s"$phase/etl.probe_s") / n
        layers(s"sink.write_s.$phase") = probe.get(s"$phase/sink.write_s") / n
        layers(s"sink.files_written.$phase") = written(phase)._1 / n
        layers(s"sink.mb_written.$phase") = written(phase)._2 / n
        layers(s"source.page_reads_per_page.$phase") =
          probe.get(s"$phase/source.page_reads") / n / pageFiles(dir)
      }
      layerSideMeasures(phases.map(p => (p._1, p._2)))
    }
    output(setup, storeRatio, Nil)
  }

  /** Per-layer figures that need the layers called one at a time, from
    * outside the pipeline, on the same inputs: parse cost per endpoint,
    * enrichment cost and the id funnel of each phase. Run once after the
    * timed loop on a sink of its own; not part of any timing. */
  private def layerSideMeasures(phases: Seq[(String, String)]): Unit = {
    probe.active = false
    val day2 = phases.last._2
    def noopWrite(df: DataFrame): Double = {
      val t0 = now
      df.write.format("noop").mode(SaveMode.Overwrite).save()
      now - t0
    }
    val parse = Seq(
      "channels" -> ((ds: Dataset[String]) => YouTubeSource.channels(spark, ds)),
      "playlists" -> ((ds: Dataset[String]) => YouTubeSource.playlistVideoIds(spark, ds)),
      "videos" -> ((ds: Dataset[String]) => YouTubeSource.videoStats(spark, ds)))
    var parts = 0
    for ((ep, f) <- parse) {
      val ds = pages(day2, ep)
      parts += ds.rdd.getNumPartitions
      layers(s"source.parse_s.$ep") =
        median((1 to 3).map(_ => spans(s"source.parse.$ep")(noopWrite(f(ds)))))
    }
    layers("source.pages") = Seq("channels", "playlists", "videos")
      .map(ep => listing(new File(s"$day2/$ep")).size).sum
    layers("source.partitions") = parts

    val sink = s"$work/sink_layers"
    rmrf(new File(sink))
    for ((phase, dir) <- phases) {
      val fetched = YouTubeSource.playlistVideoIds(spark, pages(dir, "playlists")).localCheckpoint()
      val unique = Incremental.dedup(fetched, "videoId")
      val vs = new File(s"$sink/video_stats")
      val existing = if (vs.exists()) spark.read.parquet(vs.getPath).select("videoId")
        else fetched.limit(0)
      val fresh = Incremental.newKeys(fetched, existing, "videoId").localCheckpoint()
      val nFetched = fetched.count()
      val nUnique = unique.count()
      val nNew = fresh.count()
      layers(s"etl.ids_fetched.$phase") = nFetched
      layers(s"etl.ids_dup_collapsed.$phase") = nFetched - nUnique
      layers(s"etl.ids_in_sink.$phase") = nUnique - nNew
      layers(s"etl.ids_new.$phase") = nNew
      if (phase != "noop") {
        val raw = YouTubeSource.videoStats(spark, pages(dir, "videos"))
          .join(fresh, Seq("videoId"), "left_semi").localCheckpoint()
        layers(s"etl.enrich_s.$phase") = median((1 to 3).map(_ =>
          spans(s"etl.enrich.$phase")(noopWrite(Transforms.enrichVideoStats(raw)))))
      }
      RunPipeline.run(spark, dir, sink)
    }
  }

  // ------------------------------------------------------------ queries

  /** Warehouse subdirectory -> fingerprint of its files. */
  private def layoutState(): Map[String, String] = {
    val wh = new File(s"$work/warehouse")
    Option(wh.listFiles()).toSeq.flatten.filter(_.isDirectory).map { d =>
      d.getName -> sha(listing(d).toSeq.sorted.iterator.map(_.toString))
    }.toMap
  }

  private def cleanup(): Unit = {
    spark.sqlContext.clearCache()
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  private val layoutBuilders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "suppEdgeTable" -> Tables.suppEdgeTable, "docShingleTable" -> Tables.docShingleTable,
    "docBandTable" -> Tables.docBandTable, "docSimhashTable" -> Tables.docSimhashTable)

  def queries(data: String, names: Seq[String], layouts: Seq[String]): String = {
    val qs = names.map(Registry.byName)
    val warmFp = mutable.Map.empty[String, String]
    val results = new File(s"$work/results")

    // set-up: persisted layouts, then one untimed pass that also dumps
    // each result for the oracle comparison
    System.err.println(f"[perfbench] session up after $sinceJvmStart%.1f s")
    val l0 = layoutState()
    val t0 = now
    layouts.foreach(l => spans(s"layout.$l")(layoutBuilders(l)(spark, data)))
    val layoutBuild = now - t0
    System.err.println(f"[perfbench] layouts built in $layoutBuild%.1f s")
    for (q <- qs) {
      try {
        val df = q.fn(spark, data)
        val rows = df.collect()
        warmFp(q.name) = sha(rows.iterator.map(_.toString))
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$results/${q.name}")
      } catch { case e: Throwable =>
        recs += Rec(0, q.name, 0, 0, 0, 0, ok = false, traced = false,
          s"warm-up: ${e.toString.take(300)}")
      }
      cleanup()
    }
    val setup = sinceJvmStart
    System.err.println(f"[perfbench] set-up done after $setup%.1f s")
    val l1 = layoutState()

    val rng = new Random(seed)
    timedLoop { (pass, traced, go) =>
      for (q <- rng.shuffle(qs) if go()) {
        val t0 = now
        var t1, t2 = t0
        val res = try spans(s"q.${q.name}") {
          val df = spans("query.build")(q.fn(spark, data))
          t1 = now
          spans("query.plan")(df.queryExecution.executedPlan)
          t2 = now
          Right(spans("query.exec")(df.collect()))
        } catch { case e: Throwable => Left(e.toString.take(300)) }
        val t3 = now
        val why = res.fold(identity, rows =>
          if (warmFp.get(q.name).contains(sha(rows.iterator.map(_.toString)))) ""
          else "result differs from the checked warm-up result")
        recs += Rec(pass, q.name, t3 - t0, t1 - t0, t2 - t1, t3 - t2,
          why.isEmpty, traced, why)
        cleanup()
      }
      if (traced) {
        drain()
        layers("stream.state_rows") = layers.getOrElse("stream.state_rows", 0.0) +
          probe.takeStateRows()
      }
    }
    val l2 = layoutState()
    val rebuilds = l2.count { case (k, v) => !l1.get(k).contains(v) }
    if (trace) {
      layers("stream.state_rows") = layers.getOrElse("stream.state_rows", 0.0) /
        tracedPasses.max(1)
      layers("layout.build_s") = layoutBuild
      layers("layout.tables_built") = l1.keySet.diff(l0.keySet).size
      layers("layout.rebuilds_timed") = rebuilds
    }
    val storeRatio = l1.keys.toSeq.map(k => listing(new File(s"$work/warehouse/$k")).values.sum)
      .sum.toDouble / listing(new File(data)).values.sum
    val oracle = qs.map(q => q.name -> q.oracle.fold("null")(Json.str))
    output(setup, storeRatio, Seq(
      "oracle_sql" -> Json.obj(oracle),
      "layout_rebuilds" -> rebuilds.toString))
  }

  // ---------------------------------------------------------- self-test

  /** The ETL check must pass on a clean sink and catch a planted
    * duplicate videoId. */
  def selfTest(pagesRoot: String): String = {
    val sink = s"$work/selftest_sink"
    rmrf(new File(sink))
    val r = RunPipeline.run(spark, s"$pagesRoot/day1", sink)
    val clean = checkPhase("cold", r.newVideos, r.newVideos, sink, None)
    spark.read.parquet(s"$sink/video_stats").limit(1).localCheckpoint()
      .write.mode(SaveMode.Append).parquet(s"$sink/video_stats")
    val planted = checkPhase("cold", r.newVideos, r.newVideos, sink, None)
    Json.obj(Seq("clean" -> Json.str(clean), "planted" -> Json.str(planted)))
  }
}
