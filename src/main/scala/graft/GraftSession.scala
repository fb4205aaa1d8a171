package graft

import org.apache.spark.sql.SparkSession

/**
 * The only session factory: every main (bench, verify, smoke, the
 * profilers, the scale probes, the extractor app) and the repo
 * benchmark build their session here, so a setting cannot drift
 * between entry points. [[settings]] is the whole configuration as a
 * pure list; [[builder]] applies it and callers add only what is
 * theirs on the returned builder.
 *
 *  - `shuffle.partitions` sized to cores locally (cluster: 2-3× total
 *    executor cores; AQE coalesces down at runtime);
 *  - AQE on with skew-join handling (runtime re-plan replaces manual
 *    salting for most skew);
 *  - `files.maxPartitionBytes` kept at 128m so scan partitions fit in
 *    executor memory at any scale factor;
 *  - UTC session time zone (oracle parity and sane event-time math);
 *  - [[graft.functions.GraftExtensions]] registered so the custom
 *    expressions are SQL-callable.
 *
 * Plus three measured session-infrastructure floors, parameterised by
 * env so a deployment overrides them without code changes (r15
 * thread-dump evidence, synthetic 466k-row repartition on local[32]
 * as the probe):
 *
 *  - `spark.local.dir` → tmpfs when available. Shuffle-file CREATION
 *    on an ext4 /tmp costs ~360 µs/open single-threaded and
 *    serializes under 32 writers (stack samples: every runnable
 *    executor thread in `FileOutputStream.open0`); tmpfs opens are
 *    9 µs. Probe: 9.5 → 0.9 process-CPU-s per shuffle. On a cluster
 *    this is the standard "local dirs on fast scratch" deployment
 *    setting; set SPARK_GRAFT_LOCAL_DIR to the node-local NVMe array
 *    there — tmpfs is only right where shuffle spill is far below
 *    RAM, as at bench scale.
 *
 *  - `spark.file.transferTo=false`. The shuffle-merge fast path
 *    copies spill files with FileChannel.transferTo, which mmaps and
 *    munmaps per partition chunk; 32 concurrent tasks × 32 chunks of
 *    tiny files = a storm of munmap TLB-shootdown IPIs that burns a
 *    fixed ~0.27 CPU-s per task and serializes across vCPUs (stack
 *    samples: `FileChannelImpl.map0/unmap0`). A plain buffered copy
 *    has none of that at small chunk sizes. With multi-hundred-MB
 *    partitions the zero-copy path wins instead — set
 *    SPARK_GRAFT_TRANSFER_TO=true in such deployments.
 *
 *  - `spark.sql.codegen.cache.maxEntries=4096` (static conf, Spark
 *    default 100). ~280 registered queries × dozens of codegen units
 *    thrash a 100-entry cache: every eviction re-runs Janino on the
 *    single query thread and re-JITs byte-identical classes.
 *    Measured: per-rep JIT delta 16.8 → 3.9 s on the heaviest
 *    composed flagship; 6-query subset total 34.8 → 14.8 s. Any
 *    long-lived session serving many distinct plans wants this.
 */
object GraftSession {

  /** Local cores for every session: SPARK_GRAFT_CPUS if set, else the
    * JVM's available processors. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty) match {
      case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
      case None => Runtime.getRuntime.availableProcessors()
    }

  /** Local-mode scratch for shuffle/spill files: SPARK_GRAFT_LOCAL_DIR
    * if set, else tmpfs (/dev/shm) when writable, else the JVM tmpdir.
    * Spark creates per-app `spark-<uuid>` subdirs and removes them on
    * normal shutdown, so concurrent runs coexist under one base. */
  def localDir: String =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty).getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-spark"
      else System.getProperty("java.io.tmpdir", "/tmp")
    }

  /** Every setting [[builder]] applies, in order. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "134217728",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" ->
      sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
    "spark.local.dir" -> localDir,
    "spark.file.transferTo" ->
      sys.env.getOrElse("SPARK_GRAFT_TRANSFER_TO", "false"))

  def builder(cores: Int = GraftSession.cores): SparkSession.Builder =
    settings(cores).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** A started session from [[builder]] at WARN log level. */
  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
