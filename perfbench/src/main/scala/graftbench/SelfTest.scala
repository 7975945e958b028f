package graftbench

import scala.util.Random

import org.apache.spark.sql.Row

import graft.model.Layout

/** The benchmark's own output checks, shown to catch a corrupted output
 * without Spark: exits 1 if an intact output is refused or a corrupted one
 * passes. Run by perfbench/test_checks.py. */
object SelfTest {
  private var failures = 0

  private def check(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val px = Layout.TileW * Layout.TileH
    val rnd = new Random(7)
    def band() = Seq.fill(px)(math.floor(rnd.nextDouble() * 100 * 4096) / 4096)
    val burst = for (ty <- 0 until Layout.TilesY; tx <- 0 until Layout.TilesX)
      yield Row("scene_0000", "IW1", "VV", 1, tx, ty,
        band().updated(5, Layout.NoData), band())
    val want = KernelFloor.boxcarRollups(burst)
    // tile-kernels rows: keys, then (n_valid, sum_q) per speckle mode
    def output(rep: Int, corrupt: Boolean): Seq[Row] = burst.map { r =>
      val (tx, ty) = (r.getInt(4), r.getInt(5))
      val (n, s) = want((tx, ty))
      val bad = corrupt && tx == 1 && ty == 1
      val vals = Workloads.SpeckleModes.flatMap { m =>
        if (m == "boxcar") Seq(n, if (bad) s + 1 else s) else Seq(n, 7L)
      }
      Row.fromSeq(Seq("scene_0000", "IW1", "VV", 1 + 100 * rep, ty, tx) ++ vals)
    }
    val tiles = burst.length.toLong
    val good = output(0, corrupt = false) ++ output(1, corrupt = false)
    check(KernelFloor.boxcarMismatches(burst, good).isEmpty, "intact boxcar rollups pass")
    check(KernelFloor.boxcarMismatches(burst, output(0, corrupt = true) ++ output(1, corrupt = false)).nonEmpty,
      "a corrupted boxcar sum is caught")
    check(TileKernels.replicaProblems(good, tiles, 2).isEmpty, "identical replicas pass")
    check(TileKernels.replicaProblems(output(0, corrupt = false) ++ output(1, corrupt = true), tiles, 2).nonEmpty,
      "a replica that differs is caught")
    check(TileKernels.replicaProblems(good.drop(1), tiles, 2).nonEmpty, "a missing tile is caught")
    val thrown = Workloads.attempt("pass") { throw new IllegalStateException("stage failed") }
    check(!thrown.ok && thrown.label == "pass" && thrown.note.contains("stage failed"),
      "an operation that throws is a failed operation")
    check(Workloads.attempt("pass")(OpRec("pass", 1.0, 0L, 1L, ok = true)).ok, "an operation that returns passes")
    if (failures > 0) sys.exit(1)
  }
}
