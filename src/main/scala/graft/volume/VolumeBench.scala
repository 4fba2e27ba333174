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
  * Reference wall time for this flow: 2.98 s (Screenshots/runtime.png).
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

  /** The measured flow: read → ×s chunk upscale → zstd chunk store
    * (ChunkStore, the Zarr-DirectoryStore analog — the reference's ×2 sink
    * was uncompressed Zarr; ours compresses AND is faster).
    * chunkZ=8 gives 57 independent read tasks on the atlas shape — enough
    * parallelism for local[32] while keeping ≥5 MB per chunk.
    */
  def upscale(spark: SparkSession, mhdPath: String, s: Int, outDir: String): Double = {
    val meta = MhdMeta.parse(mhdPath)
    val t0 = System.nanoTime()
    // readUpscaled: the MHD plan, one task unit per (chunk, child z-slab)
    // (MhdReader scaladoc). reuseChildBuffers: the sink is a
    // strictly-streaming foreachPartition writer, so the kernel's child
    // buffers are safely shared (elides the zeroing pass, OPTIMIZATION_r21.md §6)
    val vol = MhdReader.readUpscaled(spark, meta, chunkZ = 8,
      chunkY = meta.dimY.toInt, chunkX = meta.dimX.toInt, s, reuseChildBuffers = true)
    ChunkStore.write(vol, outDir,
      extraProvenance = Map("source" -> mhdPath, "scale" -> s.toString))
    (System.nanoTime() - t0) / 1e9
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
      shuffle: Int = 1, cname: String = "zstd", clevel: Int = 3): Double = {
    val meta = MhdMeta.parse(mhdPath)
    val t0 = System.nanoTime()
    val vol = MhdReader.readUpscaled(spark, meta, chunkZ = 8,
      chunkY = meta.dimY.toInt, chunkX = meta.dimX.toInt, s, reuseChildBuffers = true)
    ZarrStore.write(vol, outDir,
      ZarrStore.BloscCodec(cname, clevel, shuffle = shuffle),
      extraAttrs = Map("source" -> mhdPath, "scale" -> s.toString))
    (System.nanoTime() - t0) / 1e9
  }

  /** Same flow into the NGFF-0.5 flagship sink: a zarr v3 SHARDED array
    * (sharding_indexed, crc32c index) — shard grid = the upscaled chunk
    * grid (same file count as the v2 sink), 4 inner chunks per shard,
    * the same blosc-zstd-3 byte-shuffle codec as the v2 ×15 headline for
    * an apples-to-apples sink comparison. Zero shuffle: each task
    * assembles and lands its own shards.
    */
  def upscaleZarr3s(spark: SparkSession, mhdPath: String, s: Int, outDir: String): Double = {
    val meta = MhdMeta.parse(mhdPath)
    val t0 = System.nanoTime()
    val vol = MhdReader.readUpscaled(spark, meta, chunkZ = 8,
      chunkY = meta.dimY.toInt, chunkX = meta.dimX.toInt, s, reuseChildBuffers = true)
    Zarr3Store.writeSharded(vol, outDir,
      innerShape = (8, meta.dimY.toInt / 2, meta.dimX.toInt / 2),
      codec = ZarrStore.BloscCodec("zstd", 3, shuffle = 1),
      extraAttrs = Map("source" -> mhdPath, "scale" -> s.toString))
    (System.nanoTime() - t0) / 1e9
  }

  /** Consume a volume's chunks on the executors without any sink — the
    * probe that isolates scan / kernel cost from write cost.
    */
  private def consume(vol: ChunkVolume): Unit =
    vol.chunks.foreachPartition { (it: Iterator[Chunk]) =>
      var s = 0L
      it.foreach(c => s += c.data.length)
    }

  /** Sink-free CODEC probe: read → ×s kernel → pad + blosc-zstd compress
    * every chunk and DISCARD the bytes — no file ever opens. With the
    * scan/kernel stages this completes the ×15 cost ladder:
    *   codec CPU ≈ this − kernel stage;
    *   file/syscall/disk ≈ zarr headline − this.
    * `codec` defaults to the headline sink's exact configuration.
    */
  def encodeStageTime(spark: SparkSession, mhdPath: String, s: Int,
      codec: ZarrStore.Codec = ZarrStore.BloscCodec("zstd", 3, shuffle = 1)): Double = {
    val meta = MhdMeta.parse(mhdPath)
    val t0 = System.nanoTime()
    val vol = MhdReader.readUpscaled(spark, meta, chunkZ = 8,
      chunkY = meta.dimY.toInt, chunkX = meta.dimX.toInt, s, reuseChildBuffers = true)
    val outMeta = vol.meta
    val eff = codec match {
      case b: ZarrStore.BloscCodec => b.withTypesize(outMeta.bytesPerVoxel)
      case c => c
    }
    vol.chunks.foreachPartition { (it: Iterator[Chunk]) =>
      var n = 0L
      it.foreach(c => n += ZarrStore.encodeChunkBytes(c, outMeta, eff).length)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** (scan-only seconds, scan+kernel seconds) for a ×s upscale — no sink.
    * write cost ≈ headline − kernel stage.
    */
  def stageTimes(spark: SparkSession, mhdPath: String, s: Int): (Double, Double) = {
    val meta = MhdMeta.parse(mhdPath)
    val t0 = System.nanoTime()
    consume(MhdReader.read(spark, meta, chunkZ = 8, chunkY = meta.dimY.toInt, chunkX = meta.dimX.toInt))
    val read = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    consume(MhdReader.readUpscaled(spark, meta, chunkZ = 8,
      chunkY = meta.dimY.toInt, chunkX = meta.dimX.toInt, s, reuseChildBuffers = true))
    val kernel = (System.nanoTime() - t1) / 1e9
    (read, kernel)
  }

  /** Median of an odd-length sample — the bench aggregation rule. A
    * single sample of a 2–3 min disk-heavy job cannot distinguish a
    * plan regression from machine contention (the r6 kernel probe swung
    * +81% on identical code), so every headline reports the median of
    * `reps` runs, with the individual runs alongside as `<name>_runN`.
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
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
    *
    * Sinks at the same scale are sampled as INTERLEAVED rep-tuples —
    * rep i runs (internal, zarr, bitshuffle) back-to-back before rep
    * i+1 — so an ambient-I/O window on the box hits all sinks equally
    * and the internal store becomes an in-artifact control for the zarr
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
        repsOf: Map[String, Int] = Map.empty): (Seq[(String, Double)], Map[String, Double]) = {
      val local = Seq.newBuilder[(String, Double)]
      val runs = specs.map { case (name, _) => name -> Seq.newBuilder[Double] }.toMap
      for (i <- 1 to reps; (name, body) <- specs if repsOf.getOrElse(name, reps) >= i) {
        // the previous rep's publish queued an O(files) background delete
        // of the store it replaced — let it drain so the timed rep isn't
        // contending with its predecessor's retirement I/O (the r7 ×2-zarr
        // medians were measured without this and swung ±2.5×)
        AtomicDir.awaitQuiescent()
        runs(name) += body()
      }
      val meds = specs.map { case (name, _) =>
        val rs = runs(name).result()
        rs.zipWithIndex.foreach { case (t, i) => local += (s"${name}_run${i + 1}" -> t) }
        local += (name -> median(rs))
        name -> median(rs)
      }.toMap
      (local.result(), meds)
    }
    // PROBE-GATED block: sample the specs, close with a disk probe, and
    // if the bracketing probes disagree by >2× the measured window was
    // ambient-contaminated — re-run the whole block ONCE (bounded) and
    // publish the re-run, stashing the poisoned attempt as probe-side
    // evidence (vol_retry_* keys never enter queries/total). Two rounds
    // in a row needed a human to adjudicate an ambient median from the
    // probes; this makes the artifact defend itself. Returns the
    // published medians and the probe that closes the block (the next
    // block's opening probe).
    def gated(
        blockTag: String,
        specs: Seq[(String, () => Double)],
        preProbe: Double,
        repsOf: Map[String, Int] = Map.empty): (Seq[(String, Double)], Map[String, Double], Double) = {
      val (e1, m1) = sampleInterleaved(specs, repsOf)
      val p1 = diskProbe(workDir)
      val ratio = math.max(preProbe, p1) / math.max(1e-9, math.min(preProbe, p1))
      if (ratio <= 2.0) {
        entries ++= e1
        entries += (s"vol_retry_$blockTag" -> 0.0)
        (e1, m1, p1)
      } else {
        e1.foreach { case (k, v) => entries += (s"vol_retry_${blockTag}_try1_$k" -> v) }
        entries += (s"vol_retry_${blockTag}_try1_probe_pre" -> preProbe)
        entries += (s"vol_retry_${blockTag}_try1_probe_post" -> p1)
        val (e2, m2) = sampleInterleaved(specs, repsOf)
        val p2 = diskProbe(workDir)
        entries ++= e2
        entries += (s"vol_retry_$blockTag" -> 1.0)
        (e2, m2, p2)
      }
    }
    val pre = diskProbe(workDir)
    entries += ("vol_disk_probe_pre" -> pre)
    val cold = upscale(spark, mhd, 2, s"$workDir/out_x2")
    entries += ("vol_atlas_upscale_x2_cold" -> cold)
    // the ×2 headline into three sinks: the internal zstd chunk store,
    // the spec-compliant blosc-zstd zarr, and the reference CLI's EXACT
    // default output (Blosc zstd BITSHUFFLE, upscale_streaming.py:104)
    val (_, _, midProbe) = gated("x2", Seq(
      "vol_atlas_upscale_x2" ->
        (() => upscale(spark, mhd, 2, s"$workDir/out_x2")),
      "vol_atlas_upscale_x2_zarr" ->
        (() => upscaleZarr(spark, mhd, 2, s"$workDir/out_x2_zarr")),
      "vol_atlas_upscale_x2_zarr_bit" ->
        // clevel 5 explicit: this rep reproduces the reference CLI's
        // exact Blosc(zstd, 5, BITSHUFFLE) output, not the r18 default
        (() => upscaleZarr(spark, mhd, 2, s"$workDir/out_x2_zarr_bit", shuffle = 2, clevel = 5)),
      // sink-free codec probes for BOTH ×2 zarr variants, interleaved with
      // the sinks they explain (r11: the zarr_bit headline measured 11.05 s
      // on a 37%-slower disk with no per-stage evidence in the artifact —
      // these make "codec CPU" vs "file/disk" directly readable at ×2:
      //   codec ≈ probe − kernel;  sink I/O ≈ headline − probe)
      "vol_atlas_x2_stage_encode" ->
        (() => encodeStageTime(spark, mhd, 2)),
      "vol_atlas_x2_stage_encode_bit" ->
        (() => encodeStageTime(spark, mhd, 2, ZarrStore.BloscCodec("zstd", 5, shuffle = 2))),
    ), pre)
    entries += ("vol_disk_probe_mid" -> midProbe)
    // the ×15 streaming run: 1.04 TB logical (260 G voxels), reference
    // baseline 684.5 s. Two sinks — the internal zstd chunk store and the
    // APPLES-TO-APPLES spec-compliant blosc-zstd zarr the reference
    // itself wrote — interleaved like the ×2 sinks, plus sink-free stage
    // probes (scan only / scan+kernel) so write cost is read directly as
    // headline − kernel. SPARK_GRAFT_VOLBENCH=x2only skips.
    if (!sys.env.get("SPARK_GRAFT_VOLBENCH").contains("x2only")) {
      // one untimed warmup before the timed probes: the ×15 kernel stage
      // swung 68.5→17.8 s across r7 reps on identical code (JIT + page
      // cache) — the first probe was absorbing one-time JVM cost.
      // ONE timed sample after the warmup (r20 budget cut, see below).
      stageTimes(spark, mhd, 15)
      val stages = Seq(stageTimes(spark, mhd, 15))
      stages.zipWithIndex.foreach { case ((r, k), i) =>
        entries += (s"vol_atlas_x15_stage_scan_run${i + 1}" -> r)
        entries += (s"vol_atlas_x15_stage_kernel_run${i + 1}" -> k)
      }
      entries += ("vol_atlas_x15_stage_scan" -> median(stages.map(_._1)))
      entries += ("vol_atlas_x15_stage_kernel" -> median(stages.map(_._2)))
      // BUDGET DESIGN (r20): the ×15 block alone was ~19 min of the
      // driver's wall budget at 3 reps × 4 specs (~86–98 s each), and the
      // r19 round closed with NO official bench artifact (rc:124 — killed
      // at the budget). The internal-sink HEADLINE keeps median-of-3; the
      // zarr/zarr3s sink variants and the sink-free codec probe run ONCE,
      // interleaved inside rep 1 next to the headline's run1 — their
      // single samples stay ambient-attributable (same window as
      // x15_run1, bracketing disk probes unchanged, block-level >2×
      // probe-disagreement retry still re-runs everything once). A
      // single-sample variant that disagrees >2× with the headline it
      // shares a window with is adjudicable from the artifact itself.
      val (x15Entries, _, postProbe) = gated("x15", Seq(
        "vol_atlas_upscale_x15" ->
          (() => upscale(spark, mhd, 15, s"$workDir/out_x15")),
        "vol_atlas_upscale_x15_zarr" ->
          (() => upscaleZarr(spark, mhd, 15, s"$workDir/out_x15_zarr")),
        // the NGFF-0.5 sharded flagship sink under the same TB-scale load
        "vol_atlas_upscale_x15_zarr3s" ->
          (() => upscaleZarr3s(spark, mhd, 15, s"$workDir/out_x15_zarr3s")),
        // sink-free codec probe, interleaved with the sinks it explains so
        // an ambient-I/O window hits all four equally
        "vol_atlas_x15_stage_encode" ->
          (() => encodeStageTime(spark, mhd, 15)),
      ), midProbe, repsOf = Map(
        "vol_atlas_upscale_x15_zarr" -> 1,
        "vol_atlas_upscale_x15_zarr3s" -> 1,
        "vol_atlas_x15_stage_encode" -> 1))
      // the derived sink split: what the zarr headline pays ON TOP of
      // scan+kernel+codec — file create/write/close syscalls and disk.
      // Paired PER REP (rep i's headline − rep i's encode probe — the two
      // run back-to-back inside the same interleaved rep, so they share
      // ambient conditions), then median-of-deltas. r13's median-of-
      // medians form paired a fast headline median with a slow encode
      // median from a DIFFERENT rep and published −6 s; the per-rep
      // pairing removes that artifact, and the publication clamps at 0
      // (the signed value rides alongside as _sink_raw) so the stage
      // decomposition sums to the headline within noise with no negative
      // component.
      val byName = x15Entries.toMap
      val sinkDeltas = (1 to reps).flatMap { i =>
        for {
          z <- byName.get(s"vol_atlas_upscale_x15_zarr_run$i")
          e <- byName.get(s"vol_atlas_x15_stage_encode_run$i")
        } yield z - e
      }
      val sinkRaw = if (sinkDeltas.nonEmpty) median(sinkDeltas) else 0.0
      entries += ("vol_atlas_x15_stage_sink" -> math.max(0.0, sinkRaw))
      entries += ("vol_atlas_x15_stage_sink_raw" -> sinkRaw)
      entries += ("vol_disk_probe_post" -> postProbe)
    } else {
      entries += ("vol_disk_probe_post" -> diskProbe(workDir))
    }
    entries.result()
  }
}
