package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark harness entry point, launched by `perfbench/run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json> [--sf-dir <dir> --setup-extra-s <s>]
  *
  * Untraced (`--trace 0`): set up, run the workload's pass repeatedly for
  * `--seconds`, check every output, write the end-to-end metrics.
  * Traced (`--trace 1`): same set-up, one untraced and one traced pass
  * (the difference is the tracing overhead), then each layer driven
  * through its own public calls; writes the per-layer metrics and the
  * span file. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, out: Path, sfDir: String, setupExtraS: Double)

  /** Correctness bookkeeping: every check is one attempted operation. */
  final class Checks {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def apply(ok: Boolean, what: => String): Boolean = {
      attempted += 1
      if (!ok) { failed += 1; if (failures.size < 20) failures += what }
      ok
    }
    def counted(ops: Long, bad: Long, what: => String): Unit = {
      attempted += ops; failed += bad
      if (bad > 0 && failures.size < 20) failures += what
    }
  }

  /** What a workload hands back: end-to-end or per-layer metrics plus
    * free-form detail (printed on its own line, not a metric). */
  final case class Result(metrics: Seq[(String, Double, String)], detail: Seq[(String, Any)],
                          extra: Map[String, String] = Map.empty)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath,
      m.getOrElse("sf-dir", ""), m.getOrElse("setup-extra-s", "0").toDouble)
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](f: => T): (T, Double) = { val t0 = System.nanoTime(); val r = f; (r, seconds(t0)) }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // HotSpot's per-thread CPU of its internal threads (compiler, GC)
  private val internalThreads: () => Map[String, Long] =
    try {
      val bean = Class.forName("sun.management.ManagementFactoryHelper").getMethod("getHotspotThreadMBean").invoke(null)
      val times = Class.forName("sun.management.HotspotThreadMBean").getMethod("getInternalThreadCpuTimes")
      () => times.invoke(bean).asInstanceOf[java.util.Map[String, java.lang.Long]].asScala.map { case (k, v) => k -> v.longValue }.toMap
    } catch { case _: Exception => () => Map.empty }

  /** CPU seconds this process has used, every thread (GC too) except the
    * JIT compiler threads: compilation left over from the warm-up must
    * not count against the pass that happens to run beside it. */
  def cpuSeconds: Double =
    (os.getProcessCpuTime - internalThreads().collect { case (n, t) if n.contains("CompilerThread") => t }.sum) / 1e9

  /** Wall and process-CPU seconds of each timed pass. Like the
    * repository's query bench, a pass is reported by its minimum over the
    * run's passes: the pass least disturbed by the machine. */
  final case class Passes(walls: Seq[Double], cpus: Seq[Double]) {
    def seconds: Double = walls.min
    def metrics: Seq[(String, Double, String)] = Seq(("pass_s", seconds, "s"))
    def detail(itemsPerPass: Double, items: String): Seq[(String, Any)] = Seq(
      "passes" -> walls, "pass_cpu_s" -> cpus, items -> itemsPerPass / seconds)
  }

  /** Repeat `pass` until `budget` seconds of pass time have been spent,
    * and at least `least` times. */
  def passes(budget: Double, least: Int = 2)(pass: Int => Unit): Passes = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    while (walls.size < least || walls.sum < budget) {
      val c0 = cpuSeconds
      val (_, s) = time(pass(walls.size))
      walls += s
      cpus += cpuSeconds - c0
    }
    Passes(walls.toSeq, cpus.toSeq)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  private def jsonValue(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => f.toDouble.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s""""$k":${jsonValue(x)}""" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(jsonValue).mkString("[", ",", "]")
    case o => o.toString.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }.mkString("\"", "", "\"")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val checks = new Checks
    val t0 = System.nanoTime()
    val spark = session(a.work, cores)
    val sessionS = seconds(t0)
    if (a.workload == "train") {
      try Train.run(spark, a) finally spark.stop()
      return
    }
    val result =
      try {
        val w: Workload = a.workload match {
          case Imports.Name => new Imports(spark, a, checks)
          case QuerySet.Name => new QuerySet(spark, a, checks)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        try {
          val parts = Seq("session" -> sessionS, "tables" -> a.setupExtraS) ++ w.setup()
          val setupS = parts.map(_._2).sum
          val r =
            if (a.trace) {
              val r = w.traced()
              Trace.write(a.work.resolve(s"spans-${a.workload}.jsonl"))
              r
            } else {
              val r = w.timed()
              r.copy(metrics = ("setup_s", setupS, "s") +: r.metrics)
            }
          r.copy(detail = r.detail :+ ("setup_parts_s" -> parts.toMap))
        } finally w.close()
      } catch {
        case e: Throwable =>
          checks(ok = false, s"workload aborted: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          Result(Nil, Nil)
      } finally spark.stop()
    val metrics = result.metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val out = Map(
      "correct" -> (checks.failed == 0),
      "attempted" -> math.max(1L, checks.attempted),
      "failed" -> (if (checks.attempted == 0) 1L else checks.failed),
      "metrics" -> metrics,
      "detail" -> result.detail.toMap,
      "failures" -> checks.failures.toSeq,
      "extra" -> result.extra)
    Files.writeString(a.out, jsonValue(out))
  }
}

/** One benchmark workload: set-up (returns the seconds of each part),
  * the timed run, and the traced run. */
trait Workload extends AutoCloseable {
  def setup(): Seq[(String, Double)]
  def timed(): Main.Result
  def traced(): Main.Result
  override def close(): Unit = ()
}
