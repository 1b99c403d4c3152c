package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds one session, sets the workload up
  * (fixtures and one untimed warm-up cycle), runs the timed closed loop
  * for `--seconds`, runs the output checks, and writes every raw figure
  * to `--out` as JSON for `run.py` to reduce.
  *
  * Arguments: `--workload hourly_etl|star_queries|cdc_replica --seed n
  * --seconds s --trace 0|1 --data <generated inputs> --work <scratch dir>
  * --expect <oracle json> --out <result json>`, and with `--trace 1`
  * `--spans <jsonl>` for the span and job records. */
object Main {

  /** Shared state of one run. Samples are seconds. */
  final class Ctx(val spark: SparkSession, val seed: Long, val data: String,
                  val work: String, val expect: com.fasterxml.jackson
                    .databind.JsonNode) {
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val counters = mutable.LinkedHashMap[String, Double]()
    val extra = mutable.LinkedHashMap[String, Any]()
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L

    def sample(name: String, seconds: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += seconds
    def add(name: String, v: Double): Unit =
      counters(name) = counters.getOrElse(name, 0.0) + v
    def fail(what: String): Unit = {
      failed += 1
      if (failures.size < 50) failures += what
    }
    /** One attempted operation: timed, exceptions counted as failures. */
    def op[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      Trace.currentOp += 1
      try Some(Trace.span("op", what)(body))
      catch {
        case scala.util.control.NonFatal(e) =>
          fail(s"$what: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
          None
      }
    }
    /** One output check: counted as attempted, a mismatch as failed. */
    def check(what: String)(ok: => Boolean): Unit = {
      attempted += 1
      val good = try ok catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"$what: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300)
          false
      }
      if (!good) fail(s"check failed: $what")
    }
  }

  trait Workload {
    /** Build fixtures under `root` and run one untimed warm-up cycle. */
    def setup(root: String): Unit
    /** One closed-loop step; false when the op sequence is exhausted. */
    def step(): Boolean
    /** Timed ops that close the sequence (after the loop). */
    def finish(): Unit = ()
    /** Untimed figures taken between the loop and `finish`. */
    def afterLoop(): Unit = ()
    /** Output checks and figures that need the final state. */
    def verify(): Unit
    /** Per-layer figures only this workload can give (traced run). */
    def layers(w: Trace.Window): Map[String, Double] = Map.empty
    /** Release what set-up started (streams). */
    def close(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val nproc = Runtime.getRuntime.availableProcessors
    val work = a("work")
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    if (traced) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      val fsClass = new org.apache.hadoop.fs.Path("file:///")
        .getFileSystem(spark.sparkContext.hadoopConfiguration).getClass
      require(fsClass == classOf[CountingFileSystem],
        s"counting file system not installed (got $fsClass)")
      Trace.install(spark.sparkContext)
      spark.streams.addListener(Trace.streamingListener)
    }
    val sessionReadyMs = System.currentTimeMillis()

    val expect = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(a("expect")))
    val ctx = new Ctx(spark, a("seed").toLong, a("data"), work, expect)
    val wl: Workload = workloadName match {
      case "hourly_etl"   => new HourlyEtl(ctx)
      case "star_queries" => new StarQueries(ctx)
      case "cdc_replica"  => new CdcReplica(ctx)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    // spans, jobs and counts of set-up fall outside the timed window
    val setupStart = System.nanoTime()
    wl.setup(s"$work/run")
    val setupSecs = (System.nanoTime() - setupStart) / 1e9
    ctx.samples.clear(); ctx.counters.clear()
    System.gc()
    Trace.drain()

    val fs0 = CountingFileSystem.snapshot()
    val (br0, bw0) = CountingFileSystem.bytes()
    CountingFileSystem.enabled = traced
    val t0 = Trace.nowMs()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var steps = 0
    while (System.nanoTime() < deadline && wl.step()) steps += 1
    val loopEnd = Trace.nowMs()
    // afterLoop is bookkeeping: its counts, jobs and bytes are left out
    CountingFileSystem.enabled = false
    val (brA, bwA) = CountingFileSystem.bytes()
    wl.afterLoop()
    val (brB, bwB) = CountingFileSystem.bytes()
    CountingFileSystem.enabled = traced
    val f0 = Trace.nowMs()
    wl.finish()
    val t1 = Trace.nowMs()

    CountingFileSystem.enabled = false
    val fs1 = CountingFileSystem.snapshot()
    val (br1, bw1) = CountingFileSystem.bytes()
    val timedS = ((loopEnd - t0) + (t1 - f0)) / 1000.0

    val layers = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      Trace.drain()
      Thread.sleep(200) // streaming progress events ride their own queue
      Trace.drain()
      val w = new Trace.Window(t0, t1, loopEnd, f0)
      layers ++= Layers.summary(w, ctx)
      kinds(fs0, fs1).foreach { case (k, v) => layers(s"fs.$k") = v }
      layers("fs.bytes_read") = ((br1 - br0) - (brB - brA)).toDouble
      layers("fs.bytes_written") = ((bw1 - bw0) - (bwB - bwA)).toDouble
      layers ++= wl.layers(w)
      Trace.writeSpans(a("spans"))
    }
    val v0 = Trace.nowMs()
    wl.verify()
    wl.close()
    val checksS = ((f0 - loopEnd) + (Trace.nowMs() - v0)) / 1000.0
    if (traced) layers("fs.files_live_end") = filesUnder(s"$work/run").toDouble

    val out = Json.obj(
      "workload" -> workloadName,
      "info" -> Json.obj(
        "nproc" -> nproc,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "seed" -> ctx.seed,
        "spark" -> spark.version,
        "steps" -> steps),
      "session_ready_epoch_ms" -> sessionReadyMs,
      "workload_setup_s" -> setupSecs,
      "timed_s" -> timedS,
      "checks_s" -> checksS,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "samples" -> ctx.samples.map { case (k, v) => k -> v.toSeq },
      "counters" -> ctx.counters,
      "extra" -> ctx.extra,
      "layers" -> layers)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
      Json.render(out))
    spark.stop()
  }

  private def kinds(a: Map[String, Long], b: Map[String, Long]) =
    CountingFileSystem.kinds.map(k => k -> (b(k) - a(k)).toDouble)

  def filesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
  }

  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Bytes of `df`'s rows written once, as one parquet file. */
  def writtenOnceBytes(df: org.apache.spark.sql.DataFrame,
                       dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val n = bytesUnder(dir)
    graft.io.Sources.deleteRecursively(dir)
    n
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] =
    scala.collection.immutable.ListMap(kv: _*)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Writes the program's DuckDB oracle SQL (`SparkEntry.oracleSql`) for
  * the given query names to a JSON file: `DumpOracle <out> <name>...`. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      Json.render(Json.obj(args.drop(1).toSeq.map(n => n -> all(n)): _*)))
  }
}
