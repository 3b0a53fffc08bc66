package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Config, Main, SparkEntry}
import graft.operators.{Cooccurrence, Sampling}
import graft.streaming.CoocMaintenance

/**
 * One session of one benchmark workload in a fresh JVM: start the Spark
 * session (and, for the standing index, warm it up), run the workload's
 * fixed unit of work once as one closed-loop caller, check what can be
 * checked in the JVM outside the timed region, and write a JSON record.
 * `perfbench/run.py` drives it; see `perfbench/METRICS.md`.
 *
 *   Harness --workload batch_sampled|stream_ckpt|maint_mixed
 *           --input <dir> --work <dir> --out <record.json>
 *           --threads N --trace 0|1 --seed S --kmax K --fmax F
 *           --window-ms W --compact-every C
 *
 * With `--trace 1` the calls are made one public function at a time
 * under [[Tracer]] spans and the record carries the per-layer metrics.
 */
object Harness {

  val TopK = 10

  final case class Args(workload: String, input: String, work: String, out: String,
      threads: Int, trace: Boolean, seed: Long, kMax: Int, fMax: Int, windowMs: Long,
      compactEvery: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("work"), m("out"), m("threads").toInt,
      m("trace") == "1", m("seed").toLong, m("kmax").toInt, m("fmax").toInt,
      m("window-ms").toLong, m("compact-every").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .config("spark.sql.shuffle.partitions", a.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = mutable.LinkedHashMap[String, Any]("workload" -> a.workload, "trace" -> a.trace)
    try {
      if (a.workload == "maint_mixed") {
        val w0 = System.nanoTime()
        maintWarmUp(spark, a)
        rec("warmup_s") = secs(w0)
      }
      // set-up ends here; run.py subtracts its spawn time
      rec("ready_epoch_ms") = System.currentTimeMillis()
      val tracer = if (a.trace) Some(new Tracer(spark, a.out)) else None
      a.workload match {
        case "batch_sampled" => batchSampled(spark, a, tracer, rec)
        case "stream_ckpt" => streamCkpt(spark, a, tracer, rec)
        case "maint_mixed" => maintMixed(spark, a, tracer, rec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      tracer.foreach { t =>
        t.close()
        rec("spans") = t.spansJson
        rec("jobs") = t.jobsJson
      }
    } catch {
      case e: Throwable =>
        rec("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      write(a.out, Json.obj(rec.toMap))
      spark.stop()
    }
  }

  // ---- measurement helpers ----------------------------------------------

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set size of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def time[T](t: Option[Tracer], name: String)(f: => T): T =
    t.fold(f)(_.span(name)(f))

  private def diskBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  private def common(rec: mutable.Map[String, Any], cpu: Double, events: Long, wall: Double,
      disk: Long): Unit = {
    rec("cpu_s") = cpu
    rec("peak_rss_mb") = peakRssMb()
    rec("events") = events
    rec("wall_s") = wall
    rec("disk_bytes") = disk
  }

  /** DuckDB replay of the sampled pipeline over the generated CSVs
    * (view `inter_src(usr, item, ts)`), checked by run.py. */
  private def writeOracle(a: Args, windowMs: Long): Unit =
    write(s"${a.work}/oracle.sql", Sampling.sampledLlrOracleSql("SELECT * FROM inter_src",
      a.fMax, a.kMax, a.seed, windowMs, SparkEntry.llrRankTailSql))

  /** The sampled fold replayed untimed with the reference's counters
    * attached (Main.run and Main.runStreaming run without them). */
  private def samplingCounts(spark: SparkSession, a: Args, windowMs: Long)
      : Map[String, Double] = {
    val m = new Sampling.PipelineMetrics(spark.sparkContext)
    val inter = Main.csvInteractions(spark, a.input)
    val deltas = Sampling.sampledCoocDeltas(inter, a.fMax, a.kMax, a.seed, windowMs, Some(m))
      .count()
    val windows = inter.select((unix_millis(col("ts")) / windowMs).cast("long"))
      .distinct().count()
    val sampled = m.sampledInteractions.value
    val attempted = sampled + m.droppedInteractions.value
    Map("sampling.windows" -> windows.toDouble, "sampling.deltas_out" -> deltas.toDouble,
      "sampling.sampled_ratio" -> sampled.toDouble / math.max(1L, attempted),
      "sampling.refunds" -> m.feedbackElements.value.toDouble)
  }

  // ---- batch_sampled -----------------------------------------------------

  /** `graft.Main` batch mode with `-o`: Main.run, then the parquet write. */
  def batchSampled(spark: SparkSession, a: Args, t: Option[Tracer],
      rec: mutable.Map[String, Any]): Unit = {
    val out = s"${a.work}/out"
    val c = Config(input = a.input, output = Some(out), itemCut = a.fMax, userCut = a.kMax,
      topK = TopK, windowSize = a.windowMs, windowUnit = TimeUnit.MILLISECONDS, seed = a.seed)
    val cpu0 = cpuSeconds()
    val t0 = System.nanoTime()
    var counts: DataFrame = null
    val result = time(t, "Main.run") {
      t match {
        case None => Main.run(spark, c)
        case Some(tr) =>
          // Main.run's body, one public call per span
          val inter = tr.span("Main.csvInteractions")(Main.csvInteractions(spark, c.input))
          counts = tr.span("Sampling.sampledCoocCounts")(
            Sampling.sampledCoocCounts(inter, c.itemCut, c.userCut, c.seed, c.windowMs))
          tr.span("Cooccurrence.llrTopKFromCounts")(
            Cooccurrence.llrTopKFromCounts(counts, c.topK))
      }
    }
    val batchS = secs(t0)
    time(t, "write -o")(result.write.mode("overwrite").parquet(out))
    val wall = secs(t0)
    val cpu = cpuSeconds() - cpu0
    common(rec, cpu, spark.read.text(a.input).count(), wall, diskBytes(out))
    rec("batch_s") = Seq(batchS)
    rec("serve_s") = Seq(wall - batchS)
    writeOracle(a, a.windowMs)
    t.foreach { tr =>
      tr.settle()
      rec("layers") = batchLayers(tr, spark, a, counts, out)
    }
  }

  private def batchLayers(tr: Tracer, spark: SparkSession, a: Args, counts: DataFrame,
      out: String): Map[String, Double] = {
    def one(name: String) = tr.spans.find(_.name == name).get
    val root = one("Main.run")
    val samp = one("Sampling.sampledCoocCounts")
    val topk = one("Cooccurrence.llrTopKFromCounts")
    val wr = one("write -o")
    val sJobs = tr.jobsIn(samp.start, samp.end)
    // the CSV parse runs fused into the sampling fold's first job: its
    // wall is the scan stages' wall inside the sampling span
    val scan = tr.stagesOf(sJobs).filter(_.textScan)
    val parseWall = Tracer.unionLength(scan.map(s => (s.start, s.end)))
    val rJobs = tr.jobsIn(wr.start, wr.end)
    val all = tr.jobsIn(root.start, wr.end)
    val allScan = tr.stagesOf(all).filter(_.textScan)
    val wall = wr.end - root.start
    val selfs = Map("parse" -> parseWall, "sampling" -> (samp.duration - parseWall),
      "rescore" -> (topk.duration + wr.duration))
    Map(
      "parse.rows" -> allScan.map(_.recordsRead).sum.toDouble,
      "parse.task_s" -> allScan.map(_.taskSeconds).sum,
      "sampling.call_s" -> samp.duration,
      "sampling.self_s" -> selfs("sampling"),
      "sampling.jobs" -> sJobs.size.toDouble,
      "sampling.driver_gap_s" -> tr.driverGap(samp.start, samp.end, sJobs),
      "rescore.call_s" -> selfs("rescore"),
      "rescore.cells_in" -> counts.count().toDouble,
      "rescore.rows_out" -> spark.read.parquet(out).count().toDouble,
      "rescore.shuffle_bytes" -> tr.stagesOf(rJobs).map(_.shuffleWrite).sum.toDouble,
      "trace.wall_s" -> wall,
      "trace.uncovered_s" -> (wall - selfs.values.sum)) ++
      samplingCounts(spark, a, a.windowMs) ++
      tr.sparkCounts(root.start, wr.end, root.gcStart, wr.gcEnd)
  }

  // ---- stream_ckpt -------------------------------------------------------

  /** `graft.Main -st -cp`: Main.runStreaming drains one file per
    * microbatch with per-batch state snapshots, then the `-o` write. */
  def streamCkpt(spark: SparkSession, a: Args, t: Option[Tracer],
      rec: mutable.Map[String, Any]): Unit = {
    val out = s"${a.work}/out"
    val ckpt = s"${a.work}/ckpt"
    val c = Config(input = a.input, output = Some(out), itemCut = a.fMax, userCut = a.kMax,
      topK = TopK, windowSize = a.windowMs, windowUnit = TimeUnit.MILLISECONDS, seed = a.seed,
      streaming = true, checkpoint = Some(ckpt))
    val marks = mutable.ArrayBuffer[(Long, Double)]()
    val cpu0 = cpuSeconds()
    val t0 = System.nanoTime()
    val result = time(t, "Main.runStreaming") {
      Main.runStreaming(spark, c, (id, _) => marks += ((id, secs(t0))))
    }
    val drained = secs(t0)
    time(t, "write -o")(result.write.mode("overwrite").parquet(out))
    val wall = secs(t0)
    val cpu = cpuSeconds() - cpu0
    common(rec, cpu, spark.read.text(a.input).count(), wall, diskBytes(ckpt))
    val ends = marks.map(_._2).toSeq
    rec("batch_s") = ends.zip(0.0 +: ends).map { case (e, s) => e - s }
    rec("serve_s") = Seq(wall - drained)
    rec("batches") = marks.size
    writeOracle(a, a.windowMs)
    t.foreach { tr =>
      tr.settle()
      rec("layers") = streamLayers(tr, spark, a, marks.toSeq, ckpt, out)
    }
  }

  /** `marks` are the onBatch instants, in seconds since the call. */
  private def streamLayers(tr: Tracer, spark: SparkSession, a: Args,
      marks: Seq[(Long, Double)], ckpt: String, out: String): Map[String, Double] = {
    val root = tr.spans.find(_.name == "Main.runStreaming").get
    val wr = tr.spans.find(_.name == "write -o").get
    val progress = tr.progress.asScala.map(p => p.batchId -> p).toMap
    val persists = tr.executions.values.asScala.toSeq.filter(_.writesUnder("/graft-state/"))
    var process, persist, shell = 0.0
    var batchJobs = 0
    var prev = root.start
    val procJobs = mutable.ArrayBuffer[Tracer.Job]()
    var procGap, procScan = 0.0
    marks.foreach { case (id, end0) =>
      val end = root.start + end0
      val js = tr.jobsIn(prev, end)
      batchJobs += js.size
      val add = progress.get(id).map(_.addBatch).getOrElse(end - prev)
      // persistBatch is the last call before onBatch: it starts with its
      // first write under graft-state/; processBatch fills the rest of
      // the foreachBatch call (the progress event's addBatch time)
      val persistStart = persists.filter(x => x.start >= prev && x.start < end)
        .map(_.start).minOption.getOrElse(end)
      val pe = end - persistStart
      val pr = math.max(0.0, add - pe)
      tr.derived("StreamingCooc.processBatch", root.id, persistStart - pr, persistStart)
      tr.derived("StreamingCooc.persistBatch", root.id, persistStart, end)
      val pj = js.filter(_.start < persistStart)
      procJobs ++= pj
      procGap += tr.driverGap(persistStart - pr, persistStart, pj)
      procScan += Tracer.unionLength(tr.stagesOf(pj).filter(_.textScan).map(s => (s.start, s.end)))
      process += pr; persist += pe; shell += (end - prev) - add
      prev = end
    }
    val stateDir = s"$ckpt/graft-state"
    val last = marks.last._1
    val stateRows = Seq(s"$stateDir/items/$last", s"$stateDir/users/$last", s"$stateDir/delta")
      .map(p => spark.read.parquet(p).count()).sum
    val rescore = (root.end - prev) + wr.duration
    val all = tr.jobsIn(root.start, wr.end)
    val scan = tr.stagesOf(all).filter(_.textScan)
    val wall = wr.end - root.start
    val counts = samplingCounts(spark, a, a.windowMs)
    Map(
      "parse.rows" -> scan.map(_.recordsRead).sum.toDouble,
      "parse.task_s" -> scan.map(_.taskSeconds).sum,
      // processBatch's body is Sampling.processWindow plus one checkpoint
      // of the accumulated deltas; the CSV parse is fused into its jobs
      "sampling.call_s" -> process,
      "sampling.self_s" -> (process - procScan),
      "sampling.jobs" -> procJobs.size.toDouble,
      "sampling.driver_gap_s" -> procGap,
      "rescore.call_s" -> rescore,
      "rescore.cells_in" -> spark.read.parquet(s"$stateDir/delta")
        .groupBy("item", "other").agg(sum("inc").as("cnt")).where(col("cnt") > 0).count()
        .toDouble,
      "rescore.rows_out" -> spark.read.parquet(out).count().toDouble,
      "rescore.shuffle_bytes" -> tr.stagesOf(tr.jobsIn(prev, wr.end)).map(_.shuffleWrite).sum
        .toDouble,
      "stream.process_s" -> process,
      "stream.persist_s" -> persist,
      "stream.shell_s" -> shell,
      "stream.state_rows" -> stateRows.toDouble,
      "stream.jobs_per_batch" -> batchJobs.toDouble / marks.size,
      "stream.bytes_written" -> diskBytes(ckpt).toDouble,
      "stream.rescore_s" -> rescore,
      "trace.wall_s" -> wall,
      "trace.uncovered_s" -> (wall - process - persist - shell - rescore)) ++
      counts ++ tr.sparkCounts(root.start, wr.end, root.gcStart, wr.gcEnd)
  }

  // ---- maint_mixed -------------------------------------------------------

  private final case class Op(phase: String, op: String, file: String)

  private def maintOps(a: Args): Seq[Op] =
    scala.io.Source.fromFile(s"${a.input}/ops.tsv").getLines()
      .map(_.split('\t')).map(f => Op(f(0), f(1), s"${a.input}/${f(2)}")).toSeq

  private def users(spark: SparkSession, file: String): DataFrame =
    spark.read.text(file).select(col("value").cast("int").as("user"))

  private type Latencies = mutable.Map[String, mutable.ArrayBuffer[Double]]

  private def latencies: Latencies = mutable.Map("batch" -> mutable.ArrayBuffer[Double](),
    "serve" -> mutable.ArrayBuffer[Double](), "delete" -> mutable.ArrayBuffer[Double]())

  /** Drive one index through `seq`: each ingest is followed by one
    * fully materialized top-K serve. Batch ids count from 0. */
  private def runOps(spark: SparkSession, m: CoocMaintenance, seq: Seq[Op],
      tr: Option[Tracer], lat: Latencies): Unit =
    seq.zipWithIndex.foreach { case (o, id) =>
      val s0 = System.nanoTime()
      if (o.op == "ingest") {
        val df = Main.parseCsvLines(spark.read.text(o.file))
        time(tr, "CoocMaintenance.processBatch")(m.processBatch(id.toLong, df))
        lat("batch") += secs(s0)
        val s1 = System.nanoTime()
        time(tr, "CoocMaintenance.llrTopK")(m.llrTopK(TopK).collect())
        lat("serve") += secs(s1)
      } else {
        time(tr, "CoocMaintenance.deleteBatch")(m.deleteBatch(id.toLong, users(spark, o.file)))
        lat("delete") += secs(s0)
      }
    }

  /** Untimed warm-up on its own index: a standing service is measured
    * warm, and this is part of its set-up. */
  def maintWarmUp(spark: SparkSession, a: Args): Unit =
    runOps(spark, new CoocMaintenance(spark, s"${a.work}/warm-index", a.compactEvery),
      maintOps(a).filter(_.phase == "warmup"), None, latencies)

  /** The standing co-occurrence index under a fixed op sequence: ingest,
    * one fully materialized top-K serve after each ingest, and periodic
    * user deletes, on a fresh index. */
  def maintMixed(spark: SparkSession, a: Args, t: Option[Tracer],
      rec: mutable.Map[String, Any]): Unit = {
    val ops = maintOps(a)
    val measured = ops.filter(_.phase == "measured")
    val index = s"${a.work}/index"
    val m = new CoocMaintenance(spark, index, a.compactEvery)
    val lat = latencies
    val cpu0 = cpuSeconds()
    val t0 = System.nanoTime()
    time(t, "CoocMaintenance ops")(runOps(spark, m, measured, t, lat))
    val wall = secs(t0)
    val cpu = cpuSeconds() - cpu0
    val ingested = measured.filter(_.op == "ingest").map(_.file)
    val inter = Main.parseCsvLines(spark.read.text(ingested: _*))
    common(rec, cpu, inter.count(), wall, diskBytes(index))
    rec("batch_s") = lat("batch").toSeq
    rec("serve_s") = lat("serve").toSeq
    rec("delete_s") = lat("delete").toSeq

    // check: the standing serve equals the batch pipeline over the kept events
    val deleted = measured.filter(_.op == "delete").map(o => users(spark, o.file))
      .reduceOption(_ union _)
    val kept = deleted.fold(inter)(d => inter.join(d, Seq("user"), "left_anti"))
    val want = Cooccurrence.llrTopKFromCounts(Cooccurrence.coocCounts(kept), TopK).collect()
    val got = m.llrTopK(TopK).collect()
    rec("check") = Map("name" -> "llrTopK == llrTopKFromCounts(coocCounts(kept events))",
      "ok" -> (got.toSeq == want.toSeq), "rows" -> got.length, "expected_rows" -> want.length)
    t.foreach { tr =>
      tr.settle()
      rec("layers") = maintLayers(tr, m, index, got.length)
    }
  }

  private def maintLayers(tr: Tracer, m: CoocMaintenance, index: String, rowsOut: Int)
      : Map[String, Double] = {
    val root = tr.spans.find(_.name == "CoocMaintenance ops").get
    def sum(name: String) = tr.spans.filter(_.name == name).map(_.duration).sum
    val ingest = tr.spans.filter(_.name == "CoocMaintenance.processBatch")
    val serve = tr.spans.filter(_.name == "CoocMaintenance.llrTopK")
    val all = tr.jobsIn(root.start, root.end)
    val st = tr.stagesOf(all)
    val scan = st.filter(_.textScan)
    val serveJobs = serve.toSeq.flatMap(s => tr.jobsIn(s.start, s.end))
    val shards = Seq("pairs/delta", "users/delta", "pairs/base", "users/base")
      .map(d => new File(s"$index/$d")).map(f => Option(f.listFiles()).map(_.count(_.isDirectory))
        .getOrElse(0)).sum
    val layerSum = sum("CoocMaintenance.processBatch") + sum("CoocMaintenance.llrTopK") +
      sum("CoocMaintenance.deleteBatch")
    Map(
      "parse.rows" -> scan.map(_.recordsRead).sum.toDouble,
      "parse.task_s" -> scan.map(_.taskSeconds).sum,
      "rescore.call_s" -> sum("CoocMaintenance.llrTopK"),
      "rescore.cells_in" -> m.currentCounts().count().toDouble,
      "rescore.rows_out" -> rowsOut.toDouble,
      "rescore.shuffle_bytes" -> tr.stagesOf(serveJobs).map(_.shuffleWrite).sum.toDouble,
      "maint.ingest_s" -> sum("CoocMaintenance.processBatch"),
      "maint.serve_s" -> sum("CoocMaintenance.llrTopK"),
      "maint.delete_s" -> sum("CoocMaintenance.deleteBatch"),
      "maint.compact_s" -> all.filter(_.desc.startsWith("shardlog compact")).map(_.wall).sum,
      "maint.jobs_per_batch" ->
        ingest.map(s => tr.jobsIn(s.start, s.end).size).sum.toDouble / math.max(1, ingest.size),
      "maint.files_written" -> st.map(_.writingTasks).sum.toDouble,
      "maint.bytes_written" -> st.map(_.bytesWritten).sum.toDouble,
      "maint.shards_live" -> shards.toDouble,
      "trace.wall_s" -> root.duration,
      "trace.uncovered_s" -> (root.duration - layerSum)) ++
      tr.sparkCounts(root.start, root.end, root.gcStart, root.gcEnd)
  }

}

/** Minimal JSON writer for the record (numbers, strings, booleans,
  * sequences and string-keyed maps). */
object Json {
  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.map { case (k, x) => k.toString -> x }.toMap)
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
