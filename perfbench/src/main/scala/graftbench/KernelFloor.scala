package graftbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._

import graft.exprs.Kernels
import graft.model.Layout

/** The Spark-free floor of the tile-kernels pass, and the benchmark's own
 * recomputation of its boxcar rollup, both on a seeded sample of whole bursts
 * of the fixture `tiles` table. */
object KernelFloor {
  private val W = Layout.TileW
  private val H = Layout.TileH
  private val M = 3
  private val ND = Layout.NoData

  /** Kernel calls per tile and pass of tile-kernels (halo_strip counts every
   * strip one source tile contributes). */
  val CallsPerTile: Map[String, Double] =
    Workloads.SpeckleModes.map(_ -> 1.0).toMap ++
      Map("intensity" -> 1.0, "halo_strip" -> 1.0, "halo_assemble" -> 1.0, "rollup_q" -> 6.0)

  /** Every tile (keys, i, q) of `n` bursts of polarisation `pol` drawn with `seed`. */
  def sampleBursts(spark: SparkSession, sfDir: String, pol: String, seed: Long, n: Int = 4): Seq[Row] = {
    val tiles = graft.gen.Fixtures.table(spark, sfDir, "tiles").where(col("pol") === pol)
    val key = concat_ws("|", col("scene_id"), col("subswath"), col("pol"), col("burst_idx"))
    val bursts = tiles.select(key.as("k")).distinct().collect().map(_.getString(0)).sorted
    val pick = new Random(seed).shuffle(bursts.toSeq).take(n)
    tiles.where(key.isin(pick: _*))
      .select("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y", "i", "q")
      .collect().toSeq
  }

  private def burstKey(r: Row) = (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))
  private def doubles(r: Row, i: Int): Array[Double] = r.getSeq[Double](i).toArray

  // ---------------------------------------------------------------- boxcar recomputation

  /** Intensity as the fixtures define it: i and q snapped down to 2^-12, the
   * power snapped down to 2^-14, no-data where either input is missing. */
  private def power(i: Double, q: Double): Double =
    if (i == ND || q == ND || i.isNaN || q.isNaN) ND
    else {
      val a = math.floor(i * 4096) / 4096
      val b = math.floor(q * 4096) / 4096
      math.floor((a * a + b * b) * 16384) / 16384
    }

  /** (n_valid, sum_q) of the 7x7 boxcar mean of every tile of one burst,
   * computed over the whole burst raster; cells off the raster are no-data. */
  def boxcarRollups(burst: Seq[Row]): Map[(Int, Int), (Long, Long)] = {
    val rw = W * Layout.TilesX
    val rh = H * Layout.TilesY
    val v = Array.fill(rw * rh)(ND)
    burst.foreach { r =>
      val (tx, ty) = (r.getInt(4), r.getInt(5))
      val (is, qs) = (doubles(r, 6), doubles(r, 7))
      for (k <- 0 until W * H) v((ty * H + k / W) * rw + tx * W + k % W) = power(is(k), qs(k))
    }
    burst.map { r =>
      val (tx, ty) = (r.getInt(4), r.getInt(5))
      var n = 0L; var s = 0L
      for (y <- ty * H until (ty + 1) * H; x <- tx * W until (tx + 1) * W) {
        var cnt = 0; var sum = 0.0
        for (yy <- y - M to y + M; xx <- x - M to x + M
             if yy >= 0 && yy < rh && xx >= 0 && xx < rw) {
          val c = v(yy * rw + xx)
          if (c != ND && !c.isNaN) { cnt += 1; sum += c }
        }
        if (cnt > 0) { n += 1; s += math.floor(0.031415926535897934 + sum / cnt * 1e6).toLong }
      }
      (tx, ty) -> (n, s)
    }.toMap
  }

  /** Sampled tiles whose boxcar (n_valid, sum_q) in `rows` (tile-kernels
   * output: keys, then n_valid/sum_q per speckle mode) differs from the
   * recomputation; replica 0 carries the fixture's own burst index. */
  def boxcarMismatches(sample: Seq[Row], rows: Seq[Row]): Seq[String] = {
    val b = 6 + 2 * Workloads.SpeckleModes.indexOf("boxcar")
    val got = rows.map(r => ((r.getString(0), r.getString(1), r.getString(2), r.getInt(3)),
      (r.getInt(5), r.getInt(4))) -> (r.getLong(b), r.getLong(b + 1))).toMap
    if (sample.isEmpty) Seq("no sampled tiles")
    else sample.groupBy(burstKey).toSeq.flatMap { case (bk, tiles) =>
      boxcarRollups(tiles).toSeq.collect {
        case (t, want) if !got.get((bk, t)).contains(want) =>
          s"$bk tile $t: got ${got.get((bk, t))}, want $want"
      }
    }
  }

  // ---------------------------------------------------------------- kernel floor

  private final case class TileIn(strips: Seq[(Int, ArrayData)],
      contribs: ArrayData, halo: ArrayData, i: ArrayData, q: ArrayData, out: ArrayData)

  private def inputs(sample: Seq[Row]): Seq[TileIn] = {
    def ad(a: Array[Double]) = UnsafeArrayData.fromPrimitiveArray(a)
    sample.groupBy(burstKey).values.toSeq.flatMap { burst =>
      val v = burst.map { r =>
        (r.getInt(4), r.getInt(5)) -> Kernels.intensity(ad(doubles(r, 6)), ad(doubles(r, 7)),
          graft.ops.Raster.Dyadic.toDouble, graft.ops.Raster.DyadicV.toDouble)
      }.toMap
      burst.map { r =>
        val (tx, ty) = (r.getInt(4), r.getInt(5))
        // strips this tile sends to its neighbours, and the ones it receives
        val roles = for (dy <- -1 to 1; dx <- -1 to 1 if v.contains((tx + dx, ty + dy)))
          yield (1 - dy) * 3 + (1 - dx)
        val received = for (dy <- -1 to 1; dx <- -1 to 1; src <- v.get((tx - dx, ty - dy)))
          yield {
            val role = (1 - dy) * 3 + (1 - dx)
            InternalRow(role, Kernels.haloStrip(src, role, W, H, M))
          }
        val contribs = new GenericArrayData(received.toArray[Any])
        val halo = Kernels.haloAssemble(contribs, W, H, M)
        val out = Kernels.speckle(halo, Kernels.MODE_LEE, W, H, M,
          graft.ops.Speckle.Enl, graft.ops.Speckle.FrostDamping)
        TileIn(roles.map(ro => (ro, v((tx, ty)))), contribs, halo,
          ad(doubles(r, 6)), ad(doubles(r, 7)), out)
      }
    }
  }

  /** ns per tile pixel of one call, after the JIT has compiled the loop. */
  private def time(tiles: Seq[TileIn])(f: TileIn => Any): Double = {
    var sink = 0
    def sweep(): Unit = tiles.foreach(t => sink += f(t).hashCode)
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 200000000L) sweep()
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) { sweep(); calls += tiles.length }
    val ns = (System.nanoTime() - t0).toDouble / calls / (W * H)
    if (sink == 42) println("")
    ns
  }

  def measure(sample: Seq[Row]): Map[String, Double] = {
    val tiles = inputs(sample)
    val d = graft.ops.Raster.Dyadic.toDouble
    val dv = graft.ops.Raster.DyadicV.toDouble
    Workloads.SpeckleModes.map { m =>
      val id = Kernels.modeId(m)
      m -> time(tiles)(t => Kernels.speckle(t.halo, id, W, H, M,
        graft.ops.Speckle.Enl, graft.ops.Speckle.FrostDamping))
    }.toMap ++ Map(
      "intensity" -> time(tiles)(t => Kernels.intensity(t.i, t.q, d, dv)),
      "halo_strip" -> time(tiles)(t => t.strips.map { case (ro, a) => Kernels.haloStrip(a, ro, W, H, M) }),
      "halo_assemble" -> time(tiles)(t => Kernels.haloAssemble(t.contribs, W, H, M)),
      "rollup_q" -> time(tiles)(t => Kernels.rollupQ(t.out, 1e6)))
  }
}
