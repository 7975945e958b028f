package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.Fixtures
import graft.lineage.Checkpoint

/** One operation. `label` names what an output check covers: "pass" for both
 * workloads, whose operation is one pass. Main fills in `index` (the
 * operation's number in the run) and `cpu` (the CPU seconds of the JVM's Java
 * threads during it, Env.threadCpuSince). */
final case class OpRec(label: String, wall: Double, startMs: Long, endMs: Long,
    ok: Boolean, note: String = "", index: Int = -1, cpu: Double = 0.0)

/** What a run checks after its timed operations. */
final case class Finish(failedLabels: Set[String], notes: Seq[String],
    oracle: Map[String, (Path, Set[String])])

final class Ctx(val args: Main.Args, val tracer: Tracer) {
  var spark: SparkSession = _
  val sfDir: String = args.state.resolve(Main.Scale).toString
  val runDir: Path = args.runDir

  def label(l: String): Unit = spark.sparkContext.setLocalProperty(Probe.LabelKey, l)

  def query(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, sfDir)

  /** Full-row checksum of a frame, the way Checkpoint.datasetChecksum forces
   * every column; traced runs split it at the plan and action boundaries. */
  def checksum(df: DataFrame): (Long, Long) =
    if (!tracer.enabled) Checkpoint.datasetChecksum(df)
    else {
      val agg = Checkpoint.rowChecksum(df).agg(count(lit(1)), expr("bit_xor(h)"))
      tracer.span("plan.physical")(agg.queryExecution.executedPlan)
      val r = tracer.span("exec.action")(agg.head())
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
}

trait Workload {
  def name: String
  /** Work done before warm-up that is not part of any operation. */
  def prepare(): Unit = ()
  /** The r-th operation of the run. Whether it is timed is known only after it
   * has run, so every operation keeps what the checks need. */
  def op(r: Int): OpRec
  /** The output checks of the timed operations, the last ones of the run. */
  def finish(timed: Seq[OpRec]): Finish
  /** Layer metrics only this workload can give; `isTimed` picks the job labels
   * of timed operations. */
  def layers(timed: Seq[OpRec], probe: Probe, isTimed: String => Boolean): Map[String, Double] = Map.empty
}

object Workloads {
  /** Chain stages that read the TPC-H-style test tables (documents, events),
   * which are not in the repository; the benchmark has only the fixtures it
   * generates itself. */
  val ReadsTestTables: Set[String] = Set("q_dedup_clusters", "q_corpus_filter", "q_seq_packing")

  val ChainStages: Seq[(String, String)] =
    graft.PipelineRunner.parseChainSpec(graft.PipelineRunner.DefaultChainSpec)
      .filterNot { case (_, key) => ReadsTestTables(key) }

  val SpeckleModes: Seq[String] = Seq("lee", "refinedlee", "leesigma", "gammamap", "frost", "boxcar")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "tile-kernels" => new TileKernels(ctx, Main.Replicas)
    case "checkpoint-chain" => new CheckpointChain(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def nanos(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs one operation. An exception inside it makes a failed operation
   * instead of ending the run. */
  def attempt(label: String)(op: => OpRec): OpRec = {
    val startMs = System.currentTimeMillis()
    val t0 = nanos()
    try op
    catch {
      case NonFatal(e) =>
        OpRec(label, secs(t0), startMs, System.currentTimeMillis(), ok = false, s"threw $e")
    }
  }
}

import Workloads._

/** The compute half of graft.Bench's scaling job: K replicas of the VV tiles
 * of the tiles table, one margin-3 halo exchange, six 7x7 speckle kernels and
 * the per-tile rollups. One operation is one pass: the frame is planned anew
 * and collected. */
final class TileKernels(ctx: Ctx, k: Int) extends Workload {
  val name = "tile-kernels"
  import ctx.tracer

  private val keys = Seq("scene_id", "subswath", "pol", "burst_idx", "tile_y", "tile_x")
  /** One polarisation: halo groups never mix polarisations, so this halves
   * the pass without changing its shape. */
  private val Pol = "VV"
  private var tilesPerReplica = 0L
  private var sample: Seq[Row] = Nil
  /** Output checksum of each passing operation, by its number. */
  private val checksums = mutable.Map.empty[Int, Long]
  /** The rows of the last passing operation. */
  private var reference: Seq[Row] = Nil

  def frame(spark: SparkSession): DataFrame = {
    val tilesK = graft.ops.Raster.intensityTiles(spark, ctx.sfDir).where(col("pol") === Pol)
      .withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("burst_idx", col("burst_idx") + col("rep") * 100)
      .drop("rep")
    val haloed = graft.ops.Raster.withHaloMulti(tilesK, Seq("v"), 3)
      .withColumnRenamed("halo_v", "halo")
    val filtered = SpeckleModes.foldLeft(haloed) { (df, m) =>
      df.withColumn(s"out_$m", graft.exprs.KernelExprs.speckleFilter(
        col("halo"), m, graft.ops.Raster.W, graft.ops.Raster.H, 3,
        lit(graft.ops.Speckle.Enl), lit(graft.ops.Speckle.FrostDamping)))
    }.drop("halo")
    val rollups = SpeckleModes.flatMap { m =>
      val rq = graft.exprs.KernelExprs.rollupQ(col(s"out_$m"), 1e6)
      Seq(rq.getField("n").as(s"n_valid_$m"), rq.getField("s").as(s"sum_q_$m"))
    }
    filtered.select((keys.map(col) ++ rollups): _*)
  }

  private var planned: DataFrame = _

  override def prepare(): Unit = {
    val spark = ctx.spark
    tilesPerReplica = Fixtures.table(spark, ctx.sfDir, "tiles").where(col("pol") === Pol).count()
    sample = KernelFloor.sampleBursts(spark, ctx.sfDir, Pol, ctx.args.seed)
    planned = frame(spark)
  }

  def op(r: Int): OpRec = attempt("pass") {
    ctx.label(Main.opLabel(r, "pass"))
    val startMs = System.currentTimeMillis()
    val t0 = nanos()
    // a new Dataset per pass, so shuffle outputs of an earlier pass are not reused
    val df = tracer.span("plan.build")(planned.select("*"))
    if (tracer.enabled) tracer.span("plan.physical")(df.queryExecution.executedPlan)
    val rows = tracer.span("exec.action")(df.collect().toSeq)
    val wall = secs(t0)
    val endMs = System.currentTimeMillis()
    val problems = tracer.span("bench.check")(TileKernels.replicaProblems(rows, tilesPerReplica, k))
    if (problems.isEmpty) { checksums(r) = rowsChecksum(rows); reference = rows }
    OpRec("pass", wall, startMs, endMs, problems.isEmpty, problems.mkString("; "))
  }

  private def rowsChecksum(rows: Seq[Row]): Long =
    rows.map(r => scala.util.hashing.MurmurHash3.seqHash(r.toSeq).toLong)
      .sorted.foldLeft(17L)((h, x) => h * 31 + x)

  def finish(timed: Seq[OpRec]): Finish = {
    val notes = mutable.ArrayBuffer.empty[String]
    if (timed.flatMap(o => checksums.get(o.index)).distinct.size > 1)
      notes += "pass outputs differ between timed passes"
    // the benchmark's own boxcar rollup from the raw i/q arrays
    val boxcar = KernelFloor.boxcarMismatches(sample, reference)
    if (boxcar.nonEmpty) notes += s"boxcar recomputation differs: ${boxcar.take(3).mkString(", ")}"
    // one replica at another thread count must give replica 0's rollups. It
    // needs a second session (about 5 s), so only traced runs make it.
    if (tracer.enabled) {
      val other = ctx.args.threads - 1 max 1
      ctx.spark.stop()
      ctx.spark = Env.session(other, ctx.args.state)
      val single = new TileKernels(ctx, 1).frame(ctx.spark).collect().toSeq
      if (rowsChecksum(single) != rowsChecksum(reference.filter(_.getInt(3) < 100)))
        notes += s"rollups at local[$other] differ from local[${ctx.args.threads}]"
    }
    Finish(if (notes.nonEmpty) Set("pass") else Set.empty, notes.toSeq, Map.empty)
  }

  override def layers(timed: Seq[OpRec], probe: Probe, isTimed: String => Boolean): Map[String, Double] = {
    val floor = KernelFloor.measure(sample)
    val perPass = KernelFloor.CallsPerTile
    val tiles = tilesPerReplica * k
    val floorNs = floor.map { case (kn, ns) => ns * graft.ops.Raster.W * graft.ops.Raster.H * perPass(kn) }.sum * tiles
    val cpuNs = probe.tasks(isTimed).map(_.cpuNs).sum.toDouble
    floor.map { case (kn, ns) => s"kernels.$kn.ns_per_px" -> ns } ++
      Map("kernels.cpu_share" -> (if (cpuNs > 0) floorNs * timed.length / cpuNs else 0.0))
  }
}

object TileKernels {
  /** Row count and replica identity of one pass's rollups (keys, then longs). */
  def replicaProblems(rows: Seq[Row], tilesPerReplica: Long, k: Int): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    if (rows.length != tilesPerReplica * k)
      out += s"rows ${rows.length} != ${tilesPerReplica * k}"
    val byTile = rows.groupBy(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getInt(3) % 100, r.getInt(4), r.getInt(5)))
    val split = byTile.count { case (_, rs) =>
      rs.length != k || rs.map(r => (6 until r.length).map(r.getLong)).distinct.size != 1
    }
    if (split > 0) out += s"$split tiles differ between replicas"
    out.toSeq
  }
}

/** PipelineRunner's default chain through Checkpoint.stage into a fresh run
 * directory, then a replay of that directory that must resume every stage and
 * read back the data the manifest describes. One operation is one pass. */
final class CheckpointChain(ctx: Ctx) extends Workload {
  val name = "checkpoint-chain"
  import ctx.tracer

  private val cfg = s"sf=${Fixtures.scale(ctx.sfDir).tag}|v1"
  private val chainRoot = ctx.runDir.resolve("chain")
  /** The run directory of the last passing operation, for the oracle check. */
  private var kept: Option[Path] = None
  private var refManifests: Map[String, (Long, Long)] = Map.empty
  // per passing operation: bytes, files, per-stage (name, seconds, startMs, endMs), replay seconds
  final case class PassStats(bytes: Long, files: Long, stages: Seq[(String, Double, Long, Long)], replay: Double)
  private val stats = mutable.Map.empty[Int, PassStats]

  private def manifestTotals(m: String): (Long, Long) = {
    def num(k: String) = ("\"" + k + "\": (-?[0-9]+)").r.findFirstMatchIn(m).map(_.group(1).toLong).getOrElse(Long.MinValue)
    (num("total_rows"), num("checksum"))
  }

  def op(r: Int): OpRec = attempt("pass") {
    val dir = chainRoot.resolve(s"pass-$r")
    Env.deleteRecursively(dir)
    val problems = mutable.ArrayBuffer.empty[String]
    val startMs = System.currentTimeMillis()
    val t0 = nanos()
    val stageTimes = mutable.ArrayBuffer.empty[(String, Double, Long, Long)]
    val manifests = ChainStages.map { case (stage, key) =>
      ctx.label(Main.opLabel(r, stage))
      val s0 = nanos(); val sMs = System.currentTimeMillis(); val g0 = Env.codegenCompiles()
      val res = tracer.span("lineage.stage", stage) {
        Checkpoint.stage(ctx.spark, dir.toString, stage, s"$cfg|$key") {
          tracer.span("plan.build")(ctx.query(key))
        }
      }
      stageTimes += ((stage, secs(s0), sMs, System.currentTimeMillis()))
      System.err.println(f"  $stage: ${secs(s0)}%.2f s, codegen compiles ${Env.codegenCompiles() - g0}")
      if (res.resumed) problems += s"$stage resumed in a fresh run directory"
      stage -> manifestTotals(res.manifest)
    }.toMap
    ctx.label(Main.opLabel(r, "replay"))
    val r0 = nanos(); val g0 = Env.codegenCompiles()
    tracer.span("lineage.replay") {
      ChainStages.foreach { case (stage, key) =>
        val res = Checkpoint.stage(ctx.spark, dir.toString, stage, s"$cfg|$key") {
          throw new IllegalStateException(s"replay recomputed $stage")
        }
        if (!res.resumed) problems += s"$stage was not resumed"
        val got = ctx.checksum(res.df)
        if (got != manifests(stage)) problems += s"$stage replay read $got, manifest says ${manifests(stage)}"
      }
    }
    val replay = secs(r0)
    System.err.println(f"  replay: $replay%.2f s, codegen compiles ${Env.codegenCompiles() - g0}")
    val wall = secs(t0)
    val endMs = System.currentTimeMillis()
    if (refManifests.isEmpty) refManifests = manifests
    else if (manifests != refManifests) problems += "stage checksums differ between passes"
    if (problems.isEmpty) {
      val (bytes, files) = Env.treeBytesAndFiles(dir)
      stats(r) = PassStats(bytes, files, stageTimes.toSeq, replay)
      kept.foreach(Env.deleteRecursively)
      kept = Some(dir)
    }
    OpRec("pass", wall, startMs, endMs, problems.isEmpty, problems.mkString("; "))
  }

  def finish(timed: Seq[OpRec]): Finish = {
    val oracle = kept.map { d =>
      ChainStages.map { case (stage, key) => key -> (d.resolve(stage).resolve("data"), Set("pass")) }.toMap
    }.getOrElse(Map.empty)
    Finish(Set.empty, Nil, oracle)
  }

  override def layers(timed: Seq[OpRec], probe: Probe, isTimed: String => Boolean): Map[String, Double] = {
    val passes = timed.flatMap(o => stats.get(o.index))
    val perStage = passes.flatMap(_.stages).groupBy(_._1)
    val stageS = perStage.map { case (s, xs) => s"lineage.stage_s.$s" -> Main.median(xs.map(_._2)) }
    // commit: the time in Checkpoint.stage after its data-write job has ended
    val commits = passes.flatMap(_.stages).flatMap { case (stage, _, s0, s1) =>
      val ts = probe.tasks(l => isTimed(l) && l.endsWith(s"|$stage"))
        .filter(t => t.launchMs >= s0 && t.finishMs <= s1)
      val firstExec = ts.map(_.execId).filter(_ >= 0).minOption
      firstExec.map(id => (s1 - ts.filter(_.execId == id).map(_.finishMs).max) / 1e3)
    }
    stageS ++ Map(
      "lineage.replay_s" -> Main.median(passes.map(_.replay)),
      "lineage.commit_s" -> (if (commits.isEmpty) 0.0 else commits.sum / commits.size),
      "lineage.bytes_written" -> Main.median(passes.map(_.bytes.toDouble)),
      "lineage.files_written" -> Main.median(passes.map(_.files.toDouble))) ++
      JoinProbe.measure(ctx.spark, ctx.sfDir)
  }
}

/** The cell-cover prefilter against the exact SAT predicate of ops.Split:
 * (aoi, burst) pairs that share a cover cell versus pairs that intersect. */
object JoinProbe {
  def measure(spark: SparkSession, sfDir: String): Map[String, Double] = {
    import graft.cells.CellIndex
    val aoi = Fixtures.table(spark, sfDir, "aoi")
    val bursts = Fixtures.table(spark, sfDir, "bursts")
    val xs = Seq("lon1", "lon2", "lon3", "lon4").map(col)
    val ys = Seq("lat1", "lat2", "lat3", "lat4").map(col)
    val aoiCells = aoi.withColumn("cell", explode(CellIndex.coverCol(
      col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))))
    val burstCells = bursts.withColumn("cell", explode(CellIndex.coverCol(
      least(xs: _*), least(ys: _*), greatest(xs: _*), greatest(ys: _*))))
    val candidates = burstCells.join(aoiCells, Seq("cell"))
      .select("aoi_id", "scene_id", "subswath", "burst_idx").distinct().count()
    val results = graft.ops.Split.aoiBurstPairs(aoi, bursts).count()
    Map("join.candidates" -> candidates.toDouble, "join.results" -> results.toDouble,
      "join.candidates_per_result" -> (if (results > 0) candidates.toDouble / results else 0.0))
  }
}
