package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One measured call: which op, in which loop iteration, how long, whether
  * it threw, what it produced (checked against the oracle by run.py), and
  * the Spark work its span saw when tracing is on. */
final case class OpRecord(
    iter: Int, op: String, seconds: Double, error: Option[String],
    cachedRddsAfter: Int, obs: Map[String, Any], counters: Option[SpanCounters])

/** One workload of the benchmark. `open` and `warmUp` are set-up, timed as
  * `setup_s`; `prime` runs once before the loop, untimed; `iteration` is one
  * pass of the closed loop; `traceOnly` calls each layer alone for the
  * per-layer figures of a traced run. */
trait Workload {
  /** input rows (token-table rows or corpus documents) */
  def rows: Long
  /** writes the workload's inputs for its seed, replacing earlier ones */
  def generateInputs(spark: SparkSession): Unit
  def inputBytes: Long
  /** workload facts the oracle in run.py needs; `inputs_id` names the
    * inputs (workload, seed, size), whose oracle result run.py caches */
  def info: Map[String, Any]
  /** reads the inputs and compiles the spec; returns spec-compile ms (0
    * when the workload has no spec) */
  def open(spark: SparkSession): Double
  def warmUp(): Unit
  /** first calls whose code generation and JIT would otherwise land in the
    * loop's first pass; its ops are recorded with iteration -2 */
  def prime(run: Run): Unit = ()
  def iteration(it: Int, run: Run): Unit
  def traceOnly(run: Run): Unit
}

/** The per-run recorder: times ops through the tracer and collects records. */
final class Run(val spark: SparkSession, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Times `f` as op `name`. `check` turns the result into observations
    * and runs outside the timed region. A throw is recorded as a failed
    * op and yields None. */
  def op[A](it: Int, name: String)(f: => A)(check: A => Map[String, Any]): Option[A] = {
    def describe(t: Throwable) = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
    val span = tracer.open(name)
    val res = try Right(f) catch { case t: Throwable => Left(describe(t)) } finally tracer.close(span)
    val obs = res.flatMap(a => try Right(check(a)) catch { case t: Throwable => Left("check: " + describe(t)) })
    ops += OpRecord(it, name, span.seconds, obs.left.toOption,
      spark.sparkContext.getPersistentRDDs.size, obs.getOrElse(Map.empty),
      if (tracer.enabled) Some(tracer.counters(span)) else None)
    res.toOption
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val workloadName = o("workload")
    val seed = o("seed").toLong
    val traced = o.get("trace").contains("1")
    val work = Paths.get(o("work")).toAbsolutePath
    val setups = 5
    val cores = Runtime.getRuntime.availableProcessors

    val dataRoot = work.resolve("data")
    val runDir = work.resolve("runs").resolve(s"$workloadName-s$seed-t${if (traced) 1 else 0}")

    val w: Workload = workloadName match {
      case "tokens-clean"   => new TokensWorkload(dirty = false, seed, dataRoot, runDir)
      case "tokens-dirty"   => new TokensWorkload(dirty = true, seed, dataRoot, runDir)
      case "curate-planted" => new CurateWorkload(seed, dataRoot)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Inputs are generated from the seed by every run, in this JVM and
    // before set-up: a cache would leave the measured JVM colder on cached
    // seeds than on fresh ones. Generation is not part of set-up.
    val seconds = o("seconds").toDouble
    val outFile = Paths.get(o("out")).toAbsolutePath
    Fs.deleteRecursively(runDir)
    Files.createDirectories(runDir)
    val genStart = System.nanoTime()
    val gen = Session.start(cores, work)
    w.generateInputs(gen)
    gen.stop()
    val inputsS = (System.nanoTime() - genStart) / 1e9

    // host weather, as context: traced runs only, as it costs seconds
    def probe(): Double =
      if (traced) { val (one, all) = graft.BenchCore.cpuProbe(cores); all / one } else 0.0
    val probeStart = probe()

    // set-up, repeated: session start, spec compile, one warm-up operation
    val setupS = mutable.ArrayBuffer.empty[Double]
    val compileMs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start(cores, work)
      compileMs += w.open(spark)
      w.warmUp()
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val tracer = new Tracer(spark, traced)
    val run = new Run(spark, tracer)
    val gcBefore = gcSeconds()
    heapPools.foreach(_.resetPeakUsage())

    w.prime(run)
    val loopStart = System.nanoTime()
    var it = 0
    while (it == 0 || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      w.iteration(it, run)
      it += 1
    }
    // after the loop, so the traced loop starts as cold as the untraced one
    // and the two differ only by the tracing
    if (traced) w.traceOnly(run)
    val gcS = gcSeconds() - gcBefore
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val cachedAfter = spark.sparkContext.getPersistentRDDs.size
    val probeEnd = probe()
    if (traced) Files.writeString(runDir.resolve("spans.json"), JsonOut.render(tracer.records))
    tracer.stop()
    spark.stop()

    val result = Map[String, Any](
      "workload" -> workloadName, "seed" -> seed, "traced" -> traced,
      "cores" -> cores, "rows" -> w.rows, "input_bytes" -> w.inputBytes, "inputs_s" -> inputsS,
      "setup_s" -> setupS.toSeq, "compile_ms" -> compileMs.toSeq,
      "ops" -> run.ops.toSeq.map(r => Map[String, Any](
        "iter" -> r.iter, "op" -> r.op, "s" -> r.seconds, "error" -> r.error.orNull,
        "cached_rdds_after" -> r.cachedRddsAfter, "obs" -> r.obs,
        "counters" -> r.counters.map(_.toMap).orNull)),
      "layer" -> run.layer.toMap,
      "jvm" -> Map[String, Any](
        "gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb, "cached_rdds_after" -> cachedAfter,
        "effective_cores_start" -> probeStart, "effective_cores_end" -> probeEnd),
      "info" -> w.info)
    Files.writeString(outFile, JsonOut.render(result))
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
}

object Session {
  /** `local[cores]` session whose scratch space stays under `work`. */
  def start(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      // same split sizing as graft.BenchCore.session: several scan tasks
      // per core even on small inputs
      .config("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1L << 20).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Fs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  def copyRecursively(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.toSeq.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    }

  /** bytes of the data files under `p`, hidden and marker files excluded */
  def dataBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))
      .map(Files.size).sum
}

object JsonOut {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
