package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** Shared session-level I/O tuning for every graft main (r22, guide
  * §1.2 step 3 — config AFTER the algorithm, from measurement).
  *
  * Root cause (thread-dump-attributed): with `shuffle.partitions` at
  * the local core count (32 ≤ the 200 default
  * `spark.shuffle.sort.bypassMergeThreshold`), every SQL exchange write
  * picked `BypassMergeSortShuffleWriter`, which opens ONE FILE PER
  * REDUCER PER MAP TASK. On this sandbox's virtio filesystem a file
  * create costs ~5-8 ms of kernel CPU, so every exchange map task paid
  * a fixed ~200-240 ms in `FileOutputStream.open0` regardless of row
  * count — the dominant cost of the whole bench at sf0.1 (measured:
  * a 3000-row scan+groupBy stage burned 7.6 s of task CPU; with the
  * serialized writer it is ~0.3-0.45 s).
  *
  *   - `spark.shuffle.sort.bypassMergeThreshold=1` forces the
  *     serialized (Unsafe) shuffle writer, which writes one spill file
  *     + one index per map task instead of R files. At production
  *     reducer counts (R > 200) bypass never triggers anyway, so this
  *     only makes small-R behavior match the large-R path — strictly
  *     fewer file creates at every scale, not a local[32] special.
  *   - `spark.local.dir` moves shuffle/spill/broadcast scratch to
  *     tmpfs when the host has one (/dev/shm) with at least
  *     [[MinShmBytes]] free, sidestepping the slow virtio file creates
  *     entirely; production deployments point this at fast local disks
  *     for exactly this reason (guide §2.1: local disk bandwidth can be
  *     the tighter shuffle limit).
  *
  * Both are env-overridable so a driver/operator can pin different
  * values without a rebuild: SPARK_GRAFT_BYPASS_THRESHOLD,
  * SPARK_GRAFT_LOCAL_DIR (set to "default" to keep the JVM default).
  */
object SessionTuning {

  /** The one session every graft main runs on: `local[cpus]` with
    * shuffle partitions = cpus (`SPARK_GRAFT_CPUS`, default the JVM's
    * available processors), this tuning, UTC, the native-expression
    * table of [[graft.plans.GraftExtensions]], no UI, WARN logging.
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = apply(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    val bypass = sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "1")
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR") match {
      case Some(d) => if (d == "default") None else Some(d)
      case None =>
        val shm = new java.io.File("/dev/shm")
        shmScratch(shm.isDirectory, shm.canWrite, shm.getUsableSpace)
    }
    val withBypass = b.config("spark.shuffle.sort.bypassMergeThreshold", bypass)
    localDir.fold(withBypass)(d => withBypass.config("spark.local.dir", d))
  }

  /** Free tmpfs below which scratch stays on the JVM default dir.
    * Scratch holds every live shuffle's files until the context cleaner
    * drops them: a sf0.1 Verify run peaks at about 52 MB, most of
    * Docker's 64 MB default /dev/shm, so a small tmpfs fails mid-run
    * with ENOSPC where a disk would not. 2 GiB is about 40x that peak.
    */
  private[graft] val MinShmBytes: Long = 2L << 30

  /** Scratch dir for a /dev/shm with these properties, if it takes one. */
  private[graft] def shmScratch(isDir: Boolean, writable: Boolean, usableBytes: Long): Option[String] =
    if (isDir && writable && usableBytes >= MinShmBytes) Some("/dev/shm/graft-scratch")
    else None
}
