package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{CuratePipeline, GraftSession, SparkEntry}

/** `--key value` options, as `run.py` passes them. */
final case class Conf(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String, default: Int): Int = m.get(k).map(_.toInt).getOrElse(default)
  def list(k: String): Seq[String] =
    m.get(k).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
}

object Conf {
  def parse(args: Array[String]): Conf = Conf(args.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap)
}

/** One timed operation: a query (build + noop execute) or a pipeline run.
  * Span ids point into the run's [[Spans]].
  */
final case class OpRec(op: Int, name: String, pass: Int, traced: Boolean,
    error: Option[String], span: Int, build: Int, execute: Int)

/** The benchmark's JVM side. It runs one workload against the library's
  * public entry points and writes raw measurements as JSON; `run.py`
  * turns them into metrics and checks query outputs against the oracle.
  *
  * A run is: set up the session (build a `GraftSession`, run the warm-up
  * query), then timed passes in a closed loop until `seconds` have
  * elapsed. Query workloads write every output of their first and of
  * their last call for verification, before and after the timed passes;
  * the curation workload keeps every run's output. With tracing on,
  * passes alternate untraced / traced so one run yields both the layer
  * metrics and the tracing overhead.
  */
object Runner {
  def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def main(args: Array[String]): Unit = {
    val conf = Conf.parse(args)
    val work = conf("work")
    new File(work).mkdirs()
    val result = conf("mode") match {
      case "queries" => new Run(conf).queries()
      case "curate" => new Run(conf).curate()
      case "corpus" => new Run(conf).corpus()
    }
    Files.writeString(Paths.get(conf("out")), json(result))
  }
}

final class Run(conf: Conf) {
  private val cores = conf.int("cores", 4)
  private val data = conf("data")
  private val work = conf("work")
  private val seconds = conf.int("seconds", 10).toDouble
  private val traced = conf.int("trace", 0) == 1
  private val injectThrow = conf.list("inject-throw").toSet
  private val injectWrong = conf.list("inject-wrong").toSet
  private val spans = new Spans
  private val ops = ArrayBuffer.empty[OpRec]
  private val storageMb = ArrayBuffer.empty[Double]
  private val passes = ArrayBuffer.empty[Map[String, Any]]
  private val recorder = new Recorder

  private def session(): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The session, warmed up, and the set-up time from JVM start. */
  private def setUp(): (SparkSession, Double) = {
    val spark = session()
    conf.list("warmup").foreach(q => noop(SparkEntry.queries(q)(spark, data)))
    (spark, Clock.now - Clock.fromEpochMs(ManagementFactory.getRuntimeMXBean.getStartTime))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** Runs the timed passes: `pass(p, traced)` runs one pass. Passes are
    * whole, at least three, and as many as come closest to `seconds`:
    * another pass starts only if, lasting as long as the one before, it
    * would end nearer to `seconds` than stopping now. The first timed pass
    * is still slowed by the JIT's warm-up; with three or more, each
    * operation's median leaves it out, also on a slow host where two
    * passes would come closer to `seconds`.
    */
  private def timedPasses(spark: SparkSession)(pass: (Int, Boolean) => Unit): Double = {
    val minPasses = 3
    val t0 = Clock.now
    var p = 0
    var lastWall = 0.0
    while (p < minPasses || Clock.now - t0 + lastWall / 2 < seconds) {
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) {
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      val before = ops.size
      val start = Clock.now
      pass(p, tracedPass)
      val wall = Clock.now - start
      lastWall = wall
      val these = ops.drop(before)
      if (tracedPass) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(recorder)
        spark.sparkContext.removeSparkListener(recorder)
      }
      passes += Map("pass" -> p, "traced" -> tracedPass, "wall" -> wall,
        "ops" -> these.size, "completed" -> these.count(_.error.isEmpty))
      p += 1
    }
    Clock.now - t0
  }

  private def sampleStorage(spark: SparkSession): Unit =
    storageMb += spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  private def common(setupS: Double, timedWall: Double): Map[String, Any] = {
    val spansOut = conf.m.get("spans")
    spansOut.foreach { path =>
      Files.writeString(Paths.get(path), spans.toSeq.map { s =>
        Runner.json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "op" -> s.op, "start" -> s.start, "end" -> s.end))
      }.mkString("", "\n", "\n"))
    }
    val opsOut = ops.toSeq.map { o =>
      Map("name" -> o.name, "pass" -> o.pass, "traced" -> o.traced,
        "error" -> o.error.orNull, "latency" -> spans(o.span).dur,
        "build" -> spans(o.build).dur, "execute" -> spans(o.execute).dur)
    }
    val layers = if (traced) Layers.compute(ops.toSeq.filter(_.traced), spans, recorder,
      storageMb.toSeq, cores) else Layers.Result(Map.empty, Nil)
    Map("setup_s" -> setupS, "timed_wall" -> timedWall, "passes" -> passes.toSeq,
      "ops" -> opsOut, "peak_rss_mb" -> Mem.peakRssMb(), "layers" -> layers.metrics,
      "recon" -> layers.recon, "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576L)
  }

  /** Query workloads: each op is one `SparkEntry.queries` entry. */
  def queries(): Map[String, Any] = {
    val names = conf.list("ops")
    val (spark, setupS) = setUp()
    val fns = SparkEntry.queries
    def build(name: String): DataFrame = {
      if (injectThrow(name)) throw new IllegalStateException(s"injected failure in $name")
      val df = fns(name)(spark, data)
      if (injectWrong(name)) df.withColumn("__injected", lit(1)) else df
    }
    // untimed passes that write every output for the oracle compare:
    // the first call of each query, and (below) the call after the timed
    // passes, when every memo and cache the session built is in place.
    // With `--check 0` (the registry selection pass) the first calls
    // still run, into `noop`, and nothing is written.
    val check = conf.int("check", 1) == 1
    def written(call: String): Seq[Map[String, Any]] = names.map { name =>
      val path = s"$work/$call/$name"
      val t0 = Clock.now
      val err = try { build(name).coalesce(1).write.mode("overwrite").parquet(path); None }
        catch { case e: Throwable => Some(message(e)) }
      Map("name" -> name, "call" -> call, "error" -> err.orNull, "path" -> path,
        "sql" -> SparkEntry.oracleSql.get(name).orNull, "latency" -> (Clock.now - t0))
    }
    val checkStart = Clock.now
    val first = if (check) written("first")
      else { names.foreach(n => try noop(build(n)) catch { case _: Throwable => }); Nil }
    val checkS = Clock.now - checkStart
    var opId = 0
    val wall = timedPasses(spark) { (p, tracedPass) =>
      names.foreach { name =>
        opId += 1
        val id = opId
        spans.span("op", -1, id) { root =>
          var b, x = -1
          val err = try {
            val df = spans.span("build", root, id) { s => b = s; build(name) }
            spans.span("execute", root, id) { s => x = s; noop(df) }
            None
          } catch { case e: Throwable => Some(message(e)) }
          if (b < 0) b = spans.span("build", root, id)(identity)
          if (x < 0) x = spans.span("execute", root, id)(identity)
          ops += OpRec(id, name, p, tracedPass, err, root, b, x)
        }
        if (tracedPass) sampleStorage(spark)
      }
    }
    val last = if (check) written("last") else Nil
    val out = common(setupS, wall) ++ Map("checks" -> (first ++ last),
      "check_pass_s" -> checkS)
    spark.stop()
    out
  }

  /** Only writes the seed-ordered curation input into `<work>/corpus`. */
  def corpus(): Map[String, Any] = {
    val spark = session()
    Corpus.shuffled(spark, data, s"$work/corpus", conf.int("seed", 0))
    spark.stop()
    Map("corpus" -> s"$work/corpus/documents.parquet")
  }

  /** The curation workload: each op is one `CuratePipeline.run` into a
    * fresh output directory, over a corpus whose row order the seed fixes.
    */
  def curate(): Map[String, Any] = {
    val (spark, setupS) = setUp()
    val corpus = s"$work/corpus"
    val t0 = Clock.now
    Corpus.shuffled(spark, data, corpus, conf.int("seed", 0))
    val corpusS = Clock.now - t0
    val inBytes = new File(s"$corpus/documents.parquet").length()
    def runOnce(out: String) = {
      val s = CuratePipeline.run(spark, corpus, out)
      if (injectThrow("curate")) throw new IllegalStateException("injected failure in curate")
      if (injectWrong("curate")) s.copy(nWritten = s.nWritten + 1) else s
    }
    val checks = ArrayBuffer.empty[Map[String, Any]]
    def check(label: String, out: String, summary: Either[String, CuratePipeline.Summary]) =
      checks += (summary match {
        case Left(err) => Map("name" -> label, "error" -> err)
        case Right(s) => Map("name" -> label, "summary" -> Corpus.summaryMap(s),
          "violations" -> Corpus.violations(spark, out, s, inBytes))
      })
    // one checked run before timing; the first timed run, still slowed by
    // the JIT's warm-up, is left out by the median over three or more
    val out1 = s"$work/out/check-1"
    check("check-1", out1,
      try Right(runOnce(out1)) catch { case e: Throwable => Left(message(e)) })
    val outBytes = Corpus.bytes(new File(out1))
    val timed = ArrayBuffer.empty[(String, String, Either[String, CuratePipeline.Summary])]
    var opId = 0
    val wall = timedPasses(spark) { (p, tracedPass) =>
      opId += 1
      val id = opId
      val out = s"$work/out/run-$id"
      spans.span("op", -1, id) { root =>
        // the pipeline builds and executes inside one call: its build
        // span is empty and the whole call is the execute span
        val b = spans.span("build", root, id)(identity)
        var summary: Either[String, CuratePipeline.Summary] = Left("not run")
        val x = spans.span("execute", root, id) { s =>
          summary = try Right(runOnce(out)) catch { case e: Throwable => Left(message(e)) }
          s
        }
        ops += OpRec(id, "curate", p, tracedPass, summary.left.toOption, root, b, x)
        timed += ((s"run-$id", out, summary))
      }
      if (tracedPass) sampleStorage(spark)
    }
    val filesWritten = timed.map { case (_, out, _) => Corpus.dataFiles(new File(out)) }
    timed.foreach { case (label, out, s) => check(label, out, s) }
    val res = common(setupS, wall) ++ Map("checks" -> checks.toSeq,
      "curate" -> Map("in_bytes" -> inBytes, "out_bytes" -> outBytes,
        "corpus_s" -> corpusS, "files_written" -> filesWritten.toSeq))
    spark.stop()
    res
  }
}

object Mem {
  /** Peak resident set size of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
