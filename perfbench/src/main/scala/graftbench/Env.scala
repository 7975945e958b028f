package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Session, fixture location and JVM counters shared by every workload. */
object Env {

  /** The session the benchmark runs on. It mirrors graft.Bench's headline
   * session, except that the shuffle-partition count is fixed, so the plan does
   * not depend on the thread count. */
  def session(threads: Int, state: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.local.dir", state.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", state.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Partitions = 16

  private def fixturesClass: Class[_] = {
    graft.gen.Fixtures.Root // initialise the object before touching its fields
    Class.forName("graft.gen.Fixtures$")
  }

  /** graft.gen.Fixtures keeps its tables under a fixed absolute root. The
   * benchmark keeps them inside its own state directory instead, so this
   * overwrites that constant before the first fixture is touched. Returns the
   * program's own root, which the oracle SQL names. */
  def redirectFixtures(root: String): String = {
    val programRoot = graft.gen.Fixtures.Root
    val f = fixturesClass.getDeclaredField("Root")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), root)
    require(graft.gen.Fixtures.Root == root, s"fixture root still ${graft.gen.Fixtures.Root}")
    programRoot
  }

  def fixtureMarker(sfDir: String): Option[Path] = {
    val d = java.nio.file.Paths.get(graft.gen.Fixtures.dir(sfDir))
    if (!Files.isDirectory(d)) None
    else {
      val s = Files.list(d)
      try {
        val it = s.iterator()
        var found: Option[Path] = None
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.startsWith("_COMPLETE")) found = Some(p)
        }
        found
      } finally s.close()
    }
  }

  def gcSeconds(): Double = {
    val it = ManagementFactory.getGarbageCollectorMXBeans.iterator()
    var ms = 0L
    while (it.hasNext) ms += math.max(0L, it.next().getCollectionTime)
    ms / 1e3
  }

  /** CPU seconds of every thread of this JVM (tasks, driver, JIT, GC). */
  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** CPU nanoseconds of each live Java thread: the client, Spark's driver and
   * task threads. The JIT compiler and GC threads are not Java threads. */
  def threadCpu(): Map[Long, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds the Java threads have spent since the snapshot `t0`; threads
   * that started since count in full, threads that ended since are lost. */
  def threadCpuSince(t0: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) => ns - t0.getOrElse(id, 0L) }.filter(_ > 0).sum / 1e9

  /** Seconds the JIT compilers have spent compiling. */
  def jitSeconds(): Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** Classes Spark's code generator has compiled (its cache misses). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.forEach(_.resetPeakUsage())

  def heapPeakMb(): Double = {
    var b = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) b += p.getPeakUsage.getUsed
    }
    b / 1e6
  }

  def jvmStartMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytesAndFiles(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      var bytes = 0L; var files = 0L
      s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
      (bytes, files)
    } finally s.close()
  }
}
