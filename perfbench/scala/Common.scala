package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Order statistics over measured samples. */
object Stats {
  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile (`p` in 0..100), 0 for no samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
}

/** Minimal JSON rendering for the run artifacts (numbers, strings,
  * sequences and string-keyed maps). */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case o => quote(o.toString)
  }

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, render(v).getBytes(StandardCharsets.UTF_8))
  }
}

/** Process-level counters read around a measured interval. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val mem = ManagementFactory.getMemoryMXBean

  def cpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = jit.getTotalCompilationTime
  def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def heapUsedBytes: Long = mem.getHeapMemoryUsage.getUsed

  /** Heap still referenced after a full collection, in MB: the least of
    * five collections 200 ms apart, so that blocks Spark's ContextCleaner
    * frees asynchronously after a collection are not counted. */
  def liveHeapMb(): Double = (1 to 5).map { _ =>
    System.gc()
    val mb = heapUsedBytes / 1048576.0
    Thread.sleep(200)
    mb
  }.min

  final case class Sample(wallNs: Long, cpuNs: Long, jitMs: Long, gcMs: Long)
  def sample(): Sample = Sample(System.nanoTime, cpuNs, jitMs, gcMs)

  /** Seconds of wall, process CPU, JIT and GC between two samples. */
  final case class Delta(wallS: Double, cpuS: Double, jitS: Double, gcS: Double)
  def delta(a: Sample, b: Sample): Delta =
    Delta((b.wallNs - a.wallNs) / 1e9, (b.cpuNs - a.cpuNs) / 1e9,
      (b.jitMs - a.jitMs) / 1e3, (b.gcMs - a.gcMs) / 1e3)
}

/** Host environment label: nproc, load average and the host-wide
  * steal / busy shares over an interval, from `/proc`. */
object Env {
  private def slurp(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
    catch { case _: Throwable => "" }

  /** Aggregate jiffies of the `cpu` line of /proc/stat. */
  def jiffies(): Array[Long] =
    slurp("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).flatMap(_.toLongOption))
      .getOrElse(Array.empty)

  def loadavg1: Double =
    slurp("/proc/loadavg").trim.split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(0.0)

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** steal% and busy% (non-idle, non-iowait, non-steal) between two
    * /proc/stat snapshots. */
  def shares(a: Array[Long], b: Array[Long]): (Double, Double) =
    if (a.length < 8 || b.length < 8) (0.0, 0.0)
    else {
      val d = a.indices.map(i => b(i) - a(i))
      val total = d.take(8).sum.toDouble
      if (total <= 0) (0.0, 0.0)
      else {
        val idle = d(3) + d(4)
        val steal = d(7)
        (100.0 * steal / total, 100.0 * (total - idle - steal) / total)
      }
    }
}

/** Text files under a directory tree (the pipe sink's `part-*` files). */
object Dirs {
  def partFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-"))
        .toVector
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator.asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
