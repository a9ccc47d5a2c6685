package perfbench

import graft.{GraftSession, SparkEntry}
import graft.config.{DatabasesConfig, IngestConfig}
import graft.sink.{Fanout, IdempotentParquetSink}
import graft.sources.{OpenSky, OpenSkyHttpSource}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. It drives the engine's public calls, times
  * them, and writes one JSON record of raw measurements (spans, job
  * counters, per-tick or per-pass results, readbacks) to `--out`.
  * `run.py` turns that record into metrics and checks the outputs.
  *
  * Arguments are `--key value` pairs:
  *   --mode ingest|store --out FILE --work DIR --cores N
  *   --seconds S --trace 0|1
  *   ingest: --url URL
  *   store:  --fixtures DIR --queries q1,q2,...
  */
object Main {
  private val rec = new SpanRecorder
  /** The reference topology of conf/ingest.yaml: 3 copies plus 5 extra
    * tables, `write_workers` 5. */
  private val Databases = DatabasesConfig(
    copies = 3, extra = Map("foo" -> 5), writeWorkers = 5)
  /** Set-up is timed this many times per run; the median is reported. */
  private val SetupCycles = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(a("cores"))
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sampler = new RssSampler(rec)
    sampler.start()
    val out = mutable.LinkedHashMap[String, Any](
      "mode" -> a("mode"), "cores" -> a("cores").toInt, "session_s" -> sessionS)
    try {
      val run = new Run(spark, a, work, out)
      if (a("mode") == "ingest") run.ingest() else run.store()
    } finally {
      out("rss_peak_kb") = statusKb("VmHWM:")
      sampler.interrupt()
      sampler.join()
      out("rss_samples") = sampler.samples.toList
      // The heap is fixed and pre-touched (run.py), so all of it is
      // resident from the start.
      out("heap_kb") = Runtime.getRuntime.maxMemory / 1024
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(Paths.get(a("out")).toFile, out)
      spark.stop()
    }
  }

  /** Samples the resident set every 50 ms as (epoch ms, kB), so the
    * record holds its course over the timed loop, not only its peak. */
  private final class RssSampler(rec: SpanRecorder) extends Thread("rss-sampler") {
    setDaemon(true)
    val samples = mutable.ArrayBuffer.empty[Seq[Double]]
    override def run(): Unit =
      try while (true) {
        samples += Seq(rec.now(), statusKb("VmRSS:").toDouble)
        Thread.sleep(50)
      } catch { case _: InterruptedException => }
  }

  private def statusKb(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private final class Run(spark: SparkSession, a: Map[String, String], work: Path,
      out: mutable.Map[String, Any]) {
    private val seconds = a("seconds").toDouble
    private val trace = a("trace") == "1"
    private val listener = new JobListener

    /** Runs `body` with the job listener attached when `traced`; the bus
      * is drained before the listener is detached so no event is lost. */
    private def maybeTraced[T](traced: Boolean)(body: => T): T =
      if (!traced) body
      else {
        spark.sparkContext.addSparkListener(listener)
        try body
        finally {
          ListenerBusDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
      }

    /** Repeats `step` until `seconds` have passed, at least `minSteps`
      * times. With tracing on, every other step is traced, starting with
      * an untraced one, so warm-up still in progress biases neither side. */
    private def timedLoop(minSteps: Int)(step: Boolean => Unit): Double = {
      val start = System.nanoTime()
      out("loop_start") = rec.now()
      var i = 0
      while (i < minSteps || (System.nanoTime() - start) / 1e9 < seconds) {
        val traced = trace && i % 2 == 1
        maybeTraced(traced)(step(traced))
        i += 1
      }
      out("loop_end") = rec.now()
      (System.nanoTime() - start) / 1e9
    }

    private def finish(): Unit = {
      out("spans") = rec.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "label" -> s.label, "tick" -> s.tick,
        "start" -> s.start, "end" -> s.end, "ok" -> s.ok))
      out("jobs") = listener.all.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> j.end, "ok" -> j.ok, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
        "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes))
    }

    def ingest(): Unit = {
      val cfg = IngestConfig(databases = Databases)
      val targets = cfg.targets("flights")
      val source = new OpenSkyHttpSource(a("url"), "bench", "bench")
      val ticks = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
      var fetches = 0

      def tick(sink: TimingSink, phase: String, traced: Boolean): Unit = {
        fetches += 1
        rec.tick = fetches
        val gc0 = gcMs()
        val r = mutable.LinkedHashMap[String, Any]("tick" -> fetches,
          "phase" -> phase, "traced" -> traced, "fetch_ok" -> false,
          "rows" -> 0L, "ok_targets" -> 0, "payload_bytes" -> 0L)
        try rec.rootSpan("tick") {
          val raw = rec.span("fetch")(source.fetch())
          r("fetch_ok") = true
          r("payload_bytes") = raw.length.toLong
          val batch = rec.span("parse_plan")(
            OpenSky.parseBatch(spark, spark.createDataset(Seq(raw))(Encoders.STRING)))
          val (ok, rows) = rec.span("write_batch")(Fanout.writeBatch(batch.toDF(),
            targets, sink, fetches.toLong, Some(cfg.databases.writeWorkers)))
          r("ok_targets") = ok
          r("rows") = rows
        } catch { case e: Exception => r("error") = e.toString }
        r("gc_ms") = gcMs() - gc0
        ticks += r
      }

      // Set-up cycles: each makes a fresh sink root, runs the DDL
      // bootstrap for every target and one warm-up tick. The timed loop
      // then writes into the last cycle's root.
      val roots = (1 to SetupCycles).map { k =>
        val root = work.resolve(s"sink/c$k")
        val sink = new TimingSink(new IdempotentParquetSink(root.toString), rec)
        val t = System.nanoTime()
        targets.foreach { case (db, tb) => sink.ensure(db, tb, OpenSky.createTableDdl(tb)) }
        tick(sink, "setup", traced = false)
        (root, sink, (System.nanoTime() - t) / 1e9)
      }
      out("setup_cycles_s") = roots.map(_._3)
      val (root, sink, _) = roots.last
      out("loop_s") = timedLoop(if (trace) 5 else 1) { traced =>
        tick(sink, "timed", traced)
      }
      out("targets") = targets.map { case (db, tb) => s"$db.$tb" }
      out("ticks") = ticks.map { r =>
        // Files and bytes the tick left on disk, over all targets.
        val dirs = targets.map { case (db, tb) =>
          root.resolve(s"$db/$tb/batch=${r("tick")}") }.filter(Files.isDirectory(_))
        val files = dirs.flatMap(_.toFile.listFiles()).filter(_.getName.startsWith("part-"))
        r ++ Map("files" -> files.size, "bytes" -> files.map(_.length).sum)
      }
      out("readback") = targets.map { case (db, tb) =>
        val paths = roots.map(_._1.resolve(s"$db/$tb"))
          .filter(Files.isDirectory(_)).map(_.toString)
        val rows: Seq[Seq[Any]] =
          if (paths.isEmpty) Nil
          else paths.map(spark.read.parquet(_)).reduce(_ unionByName _).groupBy("time")
            .agg(count(lit(1)), sum(crc32(col("icao24").cast("binary"))),
              count(col("vertical_rate")), sum(col("time_position")))
            .collect().toSeq.map(_.toSeq)
        s"$db.$tb" -> rows
      }.toMap
      finish()
    }

    def store(): Unit = {
      val dir = a("fixtures")
      val names = a("queries").split(",").toSeq
      val fns = SparkEntry.queries
      val oracle = SparkEntry.oracleSql
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

      def pass(phase: String, traced: Boolean): Unit = {
        rec.tick = passes.size + 1
        val results = mutable.ArrayBuffer.empty[Map[String, Any]]
        val gc0 = gcMs()
        val t = System.nanoTime()
        rec.rootSpan("pass") {
          names.foreach { q =>
            val r = mutable.LinkedHashMap[String, Any]("query" -> q, "ok" -> false)
            try rec.span("query", q) {
              val df = fns(q)(spark, dir)
              val rows = df.collect()
              r("columns") = df.schema.fieldNames.toSeq
              r("rows") = rows.toSeq.map(row => row.toSeq.map(plain))
              r("ok") = true
            } catch { case e: Exception => r("error") = e.toString }
            results += r.toMap
          }
        }
        passes += Map("pass" -> rec.tick, "phase" -> phase, "traced" -> traced,
          "seconds" -> (System.nanoTime() - t) / 1e9, "gc_ms" -> (gcMs() - gc0),
          "queries" -> results.toList)
      }

      // Set-up is the cold pass, 2-3x slower than a warm one. The loop
      // runs at least two passes so the median is not one sample.
      pass("setup", traced = false)
      out("loop_s") = timedLoop(if (trace) 3 else 2)(traced => pass("timed", traced))
      out("passes") = passes.toList
      out("oracle_sql") = names.flatMap(q => oracle.get(q).map(q -> _)).toMap
      finish()
    }
  }

  /** A result cell as a JSON-writable value. */
  private def plain(v: Any): Any = v match {
    case null => null
    case b: Boolean => b
    case n: java.lang.Number => n
    case s: String => s
    case r: Row => r.toSeq.map(plain)
    case xs: Iterable[_] => xs.map(plain).toList
    case other => other.toString
  }
}
