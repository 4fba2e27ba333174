package graft.volume

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, Path}

/** Headline volume benchmark at the reference's recorded scale
  * (BASELINE.md): the ADMBA-P56 atlas shape (456,320,528) uint32.
  * The real atlas is not redistributable, so a deterministic blobby-label
  * fixture of the exact shape/dtype is synthesized once (308 MB raw) and
  * the measured flow mirrors `upscale.py --scale 2`:
  * MHD header parse → chunked RAW scan → ×2 nearest-neighbor chunk kernel
  * → compressed chunk-store write (616.4 M output voxels, 2.46 GB logical).
  * Reference wall time for this flow: 2.98 s (Screenshots/runtime.png);
  * ×15: 684.5 s. Each sample times the whole pipeline into one sink; the
  * read / kernel / encode / write split of a headline comes from one
  * traced run (`python3 perfbench/run.py --trace 1`), not from here.
  */
object VolumeBench {

  val DimX = 528L; val DimY = 320L; val DimZ = 456L

  /** Blob label at (z,y,x): axis-aligned regions echoing the atlas. */
  @inline def label(z: Long, y: Long, x: Long): Long =
    15564L + (z / 24) * 100 + (y / 32) * 10 + x / 33

  /** Write the fixture MHD+RAW once; reuse across bench runs. */
  def ensureFixture(dir: String): String = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val mhd = d.resolve("atlas_fixture.mhd")
    val raw = d.resolve("atlas_fixture.raw")
    val rawBytes = DimZ * DimY * DimX * 4
    if (!Files.exists(raw) || Files.size(raw) != rawBytes) {
      val out = Files.newOutputStream(raw)
      try {
        val slice = new Array[Byte]((DimY * DimX * 4).toInt)
        var z = 0L
        while (z < DimZ) {
          var y = 0L
          while (y < DimY) {
            var x = 0L
            while (x < DimX) {
              val i = ((y * DimX + x) * 4).toInt
              val v = label(z, y, x)
              slice(i) = (v & 0xff).toByte
              slice(i + 1) = ((v >> 8) & 0xff).toByte
              slice(i + 2) = ((v >> 16) & 0xff).toByte
              slice(i + 3) = ((v >> 24) & 0xff).toByte
              x += 1
            }
            y += 1
          }
          out.write(slice)
          z += 1
        }
      } finally out.close()
      Files.writeString(mhd,
        s"""ObjectType = Image
           |NDims = 3
           |DimSize = $DimX $DimY $DimZ
           |ElementType = MET_UINT
           |ElementSpacing = 25.0 25.0 25.0
           |ByteOrderMSB = False
           |ElementDataFile = atlas_fixture.raw
           |""".stripMargin)
    }
    mhd.toString
  }

  /** Seconds for one `MhdReader.readUpscaled` → `sink` pass (one task
    * unit per (chunk, child z-slab)); chunkZ=8 gives 57 read chunks on
    * the atlas shape. reuseChildBuffers: every sink below is a strictly
    * streaming writer (elides the zeroing pass, OPTIMIZATION_r21.md §6).
    */
  private def timedUpscale(spark: SparkSession, mhdPath: String, s: Int)(
      sink: ChunkVolume => Unit): Double = {
    val meta = MhdMeta.parse(mhdPath)
    val t0 = System.nanoTime()
    sink(MhdReader.readUpscaled(spark, meta, chunkZ = 8,
      chunkY = meta.dimY.toInt, chunkX = meta.dimX.toInt, s, reuseChildBuffers = true))
    (System.nanoTime() - t0) / 1e9
  }

  /** The measured flow into the value-indexed sink ([[ChunkStore]]: a
    * zstd-1 zarr v2 array plus its label min/max index — the reference's
    * ×2 sink was uncompressed Zarr; ours compresses AND is faster).
    */
  def upscale(spark: SparkSession, mhdPath: String, s: Int, outDir: String): Double =
    timedUpscale(spark, mhdPath, s) { vol =>
      ChunkStore.write(vol, outDir,
        extraProvenance = Map("source" -> mhdPath, "scale" -> s.toString))
    }

  /** Same flow into a SPEC-COMPLIANT zarr v2 array with the blosc-zstd
    * container — the reference's output world (upscale_streaming.py
    * --compressor zstd), for an apples-to-apples sink comparison.
    * `shuffle` 1 (byte) is the benched default at ×15; `shuffle` 2
    * reproduces the reference CLI's BITSHUFFLE flag exactly and is
    * benched at ×2 scale (the scalar JVM bitshuffle kernel runs
    * ~0.5 GB/s/core — interop-grade, and immaterial at 2.46 GB, but a
    * deliberate non-default for the 1.04 TB ×15 sink where SIMD-less
    * shuffling would dominate).
    */
  def upscaleZarr(spark: SparkSession, mhdPath: String, s: Int, outDir: String,
      shuffle: Int = 1, clevel: Int = 3): Double =
    timedUpscale(spark, mhdPath, s) { vol =>
      ZarrStore.write(vol, outDir,
        ZarrStore.BloscCodec("zstd", clevel, shuffle = shuffle),
        extraAttrs = Map("source" -> mhdPath, "scale" -> s.toString))
    }

  /** Same flow into the NGFF-0.5 flagship sink: a zarr v3 SHARDED array
    * (sharding_indexed, crc32c index) — shard grid = the upscaled chunk
    * grid (same file count as the v2 sink), 4 inner chunks per shard,
    * the same blosc-zstd-3 byte-shuffle codec as the v2 ×15 headline for
    * an apples-to-apples sink comparison. Zero shuffle: each task
    * assembles and lands its own shards.
    */
  def upscaleZarr3s(spark: SparkSession, mhdPath: String, s: Int, outDir: String): Double =
    timedUpscale(spark, mhdPath, s) { vol => // chunk shape (8, dimY, dimX)
      Zarr3Store.writeSharded(vol, outDir,
        innerShape = (8, vol.meta.chunkY / 2, vol.meta.chunkX / 2),
        codec = ZarrStore.BloscCodec("zstd", 3, shuffle = 1),
        extraAttrs = Map("source" -> mhdPath, "scale" -> s.toString))
    }

  /** Median of a non-empty sample (the mean of the two middle samples
    * when the count is even) — the bench aggregation rule. A single
    * sample of a 2–3 min disk-heavy job cannot distinguish a plan
    * regression from machine contention (the r6 kernel probe swung +81%
    * on identical code), so every headline reports the median of `reps`
    * runs, with the individual runs alongside as `<name>_runN`.
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val h = s.length / 2
    if (s.length % 2 == 1) s(h) else (s(h - 1) + s(h)) / 2
  }

  /** Ambient-disk probe: seconds to write (and fsync) `gb` GiB of
    * incompressible deterministic bytes to `dir` — the same filesystem
    * the sinks write to. Run before/between/after the timed sections,
    * it turns "the zarr number doubled" into an attributable fact: if
    * the probe doubled too, the box's disk was contended; if the probe
    * held steady, the sink regressed. (r7 and r8 both measured the zarr
    * sinks multi-× slower on the driver box than on a quiescent box,
    * with pure-compute probes swinging ±50% — this puts the ambient-I/O
    * evidence in the artifact itself.)
    */
  def diskProbe(dir: String, gb: Int = 2): Double = {
    val p = Paths.get(dir, "disk_probe.bin")
    Files.createDirectories(p.getParent)
    // xorshift64-filled 64 MiB block: incompressible like the zstd
    // frames the sinks emit, deterministic (no RNG in the bench)
    val block = new Array[Byte](64 << 20)
    var s = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < block.length) {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      block(i) = s.toByte
      i += 1
    }
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      var written = 0L
      val target = gb.toLong << 30
      while (written < target) {
        val buf = java.nio.ByteBuffer.wrap(block)
        while (buf.hasRemaining) ch.write(buf)
        written += block.length
      }
      ch.force(false)
      (System.nanoTime() - t0) / 1e9
    } finally {
      // delete in the finally: a throw mid-write must not strand 2 GiB
      // of probe bytes to contend with every subsequent timed sink rep
      ch.close()
      Files.deleteIfExists(p)
    }
  }

  /** Returns (name -> seconds) entries for the bench JSON. Canonical
    * names carry the MEDIAN of `reps` runs (see [[median]]); per-run
    * samples are reported as `<name>_runN`. The very first ×2 run pays
    * cold page cache + JIT and is reported separately as `_cold`.
    * The disk probes (`vol_disk_probe_*`) and retry metadata
    * (`vol_retry_*`) ride along. ×15 runs its headline `reps` times and
    * zarr/zarr3s once: 5 executions at 3 reps, 10 if the gate re-runs it.
    *
    * Sinks at the same scale are sampled as INTERLEAVED rep-tuples —
    * rep i runs (value-indexed, zarr, bitshuffle) back-to-back before rep
    * i+1 — so an ambient-I/O window on the box hits all sinks equally
    * and the value-indexed store becomes an in-artifact control for the zarr
    * numbers (r8: consecutive per-sink blocks left "zarr 2.6× over
    * baseline" indistinguishable from "disk degraded mid-bench").
    */
  def run(spark: SparkSession, workDir: String = "/tmp/graft_volbench",
      reps: Int = 3): Seq[(String, Double)] = {
    val mhd = ensureFixture(workDir)
    val entries = Seq.newBuilder[(String, Double)]
    // Per-spec rep counts (default: the block's `reps`): rep i runs every
    // spec whose count is ≥ i, still interleaved, so a reduced-rep spec's
    // single sample shares rep 1's ambient window with the full-rep
    // headline next to it (the headline's run1-vs-median spread is the
    // in-artifact ambient control for the single-sample variants). The
    // ×15 sink VARIANTS run once by budget design — see the ×15 block.
    def sampleInterleaved(
        specs: Seq[(String, () => Double)],
        repsOf: Map[String, Int] = Map.empty): Seq[(String, Double)] = {
      val runs = specs.map { case (name, _) => name -> Seq.newBuilder[Double] }.toMap
      for (i <- 1 to reps; (name, body) <- specs if repsOf.getOrElse(name, reps) >= i) {
        // the previous rep's publish queued an O(files) background delete
        // of the store it replaced — let it drain so the timed rep isn't
        // contending with its predecessor's retirement I/O (the r7 ×2-zarr
        // medians were measured without this and swung ±2.5×)
        AtomicDir.awaitQuiescent()
        runs(name) += body()
      }
      specs.flatMap { case (name, _) =>
        val rs = runs(name).result()
        rs.zipWithIndex.map { case (t, i) => s"${name}_run${i + 1}" -> t } :+ (name -> median(rs))
      }
    }
    // PROBE-GATED block: sample the specs, close with a disk probe, and
    // if the bracketing probes disagree by >2× the measured window was
    // ambient-contaminated — re-run the whole block ONCE (bounded) and
    // publish the re-run, stashing the poisoned attempt as probe-side
    // evidence (vol_retry_* keys never enter queries/total). Two rounds
    // in a row needed a human to adjudicate an ambient median from the
    // probes; this makes the artifact defend itself. Returns the probe
    // that closes the block (the next block's opening probe).
    def gated(
        blockTag: String,
        specs: Seq[(String, () => Double)],
        preProbe: Double,
        repsOf: Map[String, Int] = Map.empty): Double = {
      val e1 = sampleInterleaved(specs, repsOf)
      val p1 = diskProbe(workDir)
      val ratio = math.max(preProbe, p1) / math.max(1e-9, math.min(preProbe, p1))
      if (ratio <= 2.0) {
        entries ++= e1
        entries += (s"vol_retry_$blockTag" -> 0.0)
        p1
      } else {
        e1.foreach { case (k, v) => entries += (s"vol_retry_${blockTag}_try1_$k" -> v) }
        entries += (s"vol_retry_${blockTag}_try1_probe_pre" -> preProbe)
        entries += (s"vol_retry_${blockTag}_try1_probe_post" -> p1)
        entries ++= sampleInterleaved(specs, repsOf)
        entries += (s"vol_retry_$blockTag" -> 1.0)
        diskProbe(workDir)
      }
    }
    val pre = diskProbe(workDir)
    entries += ("vol_disk_probe_pre" -> pre)
    val cold = upscale(spark, mhd, 2, s"$workDir/out_x2")
    entries += ("vol_atlas_upscale_x2_cold" -> cold)
    // the ×2 headline into three sinks: the value-indexed zstd zarr store,
    // the spec-compliant blosc-zstd zarr, and the reference CLI's EXACT
    // default output (Blosc zstd BITSHUFFLE, upscale_streaming.py:104)
    val midProbe = gated("x2", Seq(
      "vol_atlas_upscale_x2" ->
        (() => upscale(spark, mhd, 2, s"$workDir/out_x2")),
      "vol_atlas_upscale_x2_zarr" ->
        (() => upscaleZarr(spark, mhd, 2, s"$workDir/out_x2_zarr")),
      "vol_atlas_upscale_x2_zarr_bit" ->
        // clevel 5 explicit: this rep reproduces the reference CLI's
        // exact Blosc(zstd, 5, BITSHUFFLE) output, not the r18 default
        (() => upscaleZarr(spark, mhd, 2, s"$workDir/out_x2_zarr_bit", shuffle = 2, clevel = 5)),
    ), pre)
    entries += ("vol_disk_probe_mid" -> midProbe)
    // the ×15 streaming run: 1.04 TB logical (260 G voxels), reference
    // baseline 684.5 s, interleaved like the ×2 sinks.
    // SPARK_GRAFT_VOLBENCH=x2only skips.
    val postProbe =
      if (sys.env.get("SPARK_GRAFT_VOLBENCH").contains("x2only")) diskProbe(workDir)
      else {
        // BUDGET DESIGN (r20): the ×15 block alone was ~19 min of the
        // bench's wall budget at 3 reps × 4 specs (~86–98 s each), and the
        // r19 round closed with NO official bench artifact (rc:124 — killed
        // at the budget). The internal-sink HEADLINE keeps median-of-3; the
        // zarr/zarr3s sink variants run ONCE, interleaved inside rep 1 next
        // to the headline's run1 — their single samples stay
        // ambient-attributable (same window as x15_run1, bracketing disk
        // probes unchanged, block-level >2× probe-disagreement retry still
        // re-runs everything once). A single-sample variant that disagrees
        // >2× with the headline it shares a window with is adjudicable
        // from the artifact itself.
        gated("x15", Seq(
          "vol_atlas_upscale_x15" ->
            (() => upscale(spark, mhd, 15, s"$workDir/out_x15")),
          "vol_atlas_upscale_x15_zarr" ->
            (() => upscaleZarr(spark, mhd, 15, s"$workDir/out_x15_zarr")),
          // the NGFF-0.5 sharded flagship sink under the same TB-scale load
          "vol_atlas_upscale_x15_zarr3s" ->
            (() => upscaleZarr3s(spark, mhd, 15, s"$workDir/out_x15_zarr3s")),
        ), midProbe, repsOf = Map(
          "vol_atlas_upscale_x15_zarr" -> 1,
          "vol_atlas_upscale_x15_zarr3s" -> 1))
      }
    entries += ("vol_disk_probe_post" -> postProbe)
    entries.result()
  }
}
