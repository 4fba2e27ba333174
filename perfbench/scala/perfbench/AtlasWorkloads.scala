package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.io.{Fio, FioConf}
import graft.volume._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Atlas fixtures: z-slabs of the `VolumeBench` atlas (456,320,528)
  * uint32 written as MHD+RAW, with labels from `VolumeBench.label`.
  */
object Atlas {
  val Ny = 320
  val Nx = 528
  val Bpp = 4
  val ChunkZ = 8
  val ZChunks = (VolumeBench.DimZ / ChunkZ).toInt // 57 full 8-plane chunks
  /** The zarr codec every atlas store is written with (the ×15 headline's). */
  val Codec = ZarrStore.BloscCodec("zstd", 3, shuffle = 1)

  def label(z: Long, y: Long, x: Long): Long = VolumeBench.label(z, y, x)

  /** Planes [z0, z0+nz) of the atlas as `<name>.mhd` + `<name>.raw`. */
  def writeSlab(dir: Path, name: String, z0: Int, nz: Int): String = {
    Files.createDirectories(dir)
    val plane = java.nio.ByteBuffer.allocate(Ny * Nx * Bpp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = Files.newOutputStream(dir.resolve(s"$name.raw"))
    try {
      var z = 0
      while (z < nz) {
        plane.clear()
        var y = 0
        while (y < Ny) {
          var x = 0
          while (x < Nx) { plane.putInt(label(z0 + z, y, x).toInt); x += 1 }
          y += 1
        }
        out.write(plane.array())
        z += 1
      }
    } finally out.close()
    val mhd = dir.resolve(s"$name.mhd")
    Files.writeString(mhd,
      s"""ObjectType = Image
         |NDims = 3
         |DimSize = $Nx $Ny $nz
         |ElementType = MET_UINT
         |ElementSpacing = 25.0 25.0 25.0
         |ByteOrderMSB = False
         |ElementDataFile = $name.raw
         |""".stripMargin)
    mhd.toString
  }

  /** Chunk files of a zarr v2 store (every non-dot entry). */
  def chunkFiles(store: Path): Seq[Path] = {
    val s = Files.list(store)
    try s.iterator().asScala.filterNot(_.getFileName.toString.startsWith(".")).toSeq
    finally s.close()
  }

  /** Decode chunk (cz,cy,cx) of a zarr v2 store straight from its file
    * and compare every voxel with the atlas label at its source voxel
    * (global output voxel / s, offset by the slab's first plane z0).
    */
  def checkChunk(store: Path, zm: ZarrStore.ZarrMeta, cz: Int, cy: Int, cx: Int,
      s: Int, z0: Long): Option[String] = {
    val Seq(ckz, cky, ckx) = zm.chunks
    val raw = zm.codec.decompress(Files.readAllBytes(store.resolve(s"$cz.$cy.$cx")), zm.chunkElems * Bpp)
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var bad = 0L
    var first = ""
    var i = 0
    var z = 0
    while (z < ckz) {
      var y = 0
      while (y < cky) {
        var x = 0
        while (x < ckx) {
          val gz = cz.toLong * ckz + z; val gy = cy.toLong * cky + y; val gx = cx.toLong * ckx + x
          if (gz < zm.shape(0) && gy < zm.shape(1) && gx < zm.shape(2)) {
            val want = label(z0 + gz / s, gy / s, gx / s)
            val got = bb.getInt(i * Bpp).toLong & 0xffffffffL
            if (got != want) {
              if (bad == 0) first = s"voxel ($gz,$gy,$gx) = $got, want $want"
              bad += 1
            }
          }
          i += 1; x += 1
        }
        y += 1
      }
      z += 1
    }
    if (bad == 0) None else Some(s"chunk ($cz,$cy,$cx): $bad wrong voxels, first $first")
  }

  def readZarray(store: Path): ZarrStore.ZarrMeta =
    ZarrStore.parseZarray(Files.readString(store.resolve(".zarray")))
}

/** ×15 label upscale of seeded 8-plane atlas slabs into blosc-zstd zarr:
  * the paper's headline flow on the repo's headline chunk plan, one
  * input chunk (3,375 output chunk files) per op.
  */
final class X15Zarr(spark: SparkSession, rec: Recorder, work: Path, seed: Long) extends Workload {
  import Atlas._
  private val S = 15
  private val Slabs = 4
  private val dir = work.resolve("x15")
  private val rnd = new scala.util.Random(seed)
  private val slabIdx: Seq[Int] = rnd.shuffle((0 until ZChunks).toList).take(Slabs)
  private val samples: Seq[(Int, Int, Int)] =
    Seq.fill(3)((rnd.nextInt(S), rnd.nextInt(S), rnd.nextInt(S)))
  private var atlasMhd = ""
  private var knownDefect = 0.0
  private def fc: FioConf = FioConf.of(spark)

  private def slabMhd(k: Int): String = dir.resolve(s"slab$k.mhd").toString

  def setup(): Unit = {
    Tree.delete(dir)
    atlasMhd = VolumeBench.ensureFixture(dir.resolve("atlas").toString)
    slabIdx.zipWithIndex.foreach { case (c, k) => writeSlab(dir, s"slab$k", c * ChunkZ, ChunkZ) }
    writeSlab(dir, "warm", 0, 1)
  }

  /** One ×15 write of an `nz`-plane slab starting at atlas plane `z0`,
    * chunked (nz,320,528); checked, then deleted outside the clock.
    */
  private def write(mhd: String, z0: Long, nz: Int, i: Int): Unit = {
    val dest = dir.resolve(s"out$i")
    rec.op("x15_write") {
      val vol = MhdReader.readUpscaled(spark, MhdMeta.parse(mhd)(fc), nz, Ny, Nx, S,
        reuseChildBuffers = true)
      ZarrStore.write(vol, dest.toString, Codec)
    } { _ => checkStore(dest, z0, nz) }
    Tree.delete(dest)
  }

  private def slabOp(k: Int, i: Int): Unit =
    write(slabMhd(k), slabIdx(k).toLong * ChunkZ, ChunkZ, i)

  private def checkStore(dest: Path, z0: Long, nz: Int): Option[String] = {
    val zm = readZarray(dest)
    val files = chunkFiles(dest)
    val want = Seq(nz.toLong * S, Ny.toLong * S, Nx.toLong * S)
    val stored = files.map(Files.size).sum
    rec.annotate(
      "out_voxels" -> want.product.toDouble,
      "stored_bytes" -> stored.toDouble,
      "chunk_files" -> files.size.toDouble)
    if (zm.shape != want) Some(s"shape ${zm.shape} != $want")
    else if (zm.dtype != "<u4") Some(s"dtype ${zm.dtype}")
    else if (zm.chunks != Seq(nz, Ny, Nx)) Some(s"chunks ${zm.chunks}")
    else if (files.size != S * S * S) Some(s"${files.size} chunk files, want ${S * S * S}")
    else samples.iterator.map { case (cz, cy, cx) => checkChunk(dest, zm, cz, cy, cx, S, z0) }
      .collectFirst { case Some(e) => e }
  }

  /** A one-plane ×15 op pays class loading and JIT on the same code and
    * row shapes at an eighth of the work; a full slab op then leaves the
    * kernel and codec loops compiled for the window.
    */
  def warmup(): Unit = { write(dir.resolve("warm.mhd").toString, 0, 1, -2); slabOp(0, -1) }

  def pass(i: Int): Unit = slabOp(1 + i % (Slabs - 1), i)

  /** The CLI at its defaults on the full atlas shape. Its default chunk
    * plan (37,320,528) does not divide 456, and the straight upscale→zarr
    * flow never rechunks, so the zarr sink rejects the trailing chunk.
    * That known defect is reported as `cli.default_failed`; any other
    * failure, or a wrong store once it succeeds, counts as failed.
    */
  override def afterWindow(): Unit = {
    val dest = dir.resolve("cli_out")
    val KnownDefect = "is not on the uniform"
    rec.op("cli_default") {
      try Right(UpscaleCli.run(spark, UpscaleCli.Args(input = atlasMhd, output = dest.toString)))
      catch {
        case e: Throwable if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => Option(t.getMessage).exists(_.contains(KnownDefect))) => Left(KnownDefect)
      }
    } {
      case Left(_) => knownDefect = 1.0; None
      case Right(_) =>
        val zm = readZarray(dest)
        val want = Seq(VolumeBench.DimZ * 2, VolumeBench.DimY * 2, VolumeBench.DimX * 2)
        if (zm.shape != want) Some(s"cli store shape ${zm.shape} != $want")
        else checkChunk(dest, zm, 0, 0, 0, 2, 0)
    }
    AtomicDir.awaitQuiescent()
  }

  override def values: Map[String, Double] = Map("cli.default_failed" -> knownDefect)

  /** The ×15 plan of one slab, layer by layer: per (chunk, child z-slab)
    * unit a positioned source read, then per child the kernel, the blosc
    * encode and the file write, each in its own span; then the publish.
    */
  override def layerPass(): Unit = {
    val rawPath = dir.resolve("slab0.raw").toString
    val dest = dir.resolve("layers")
    val conf = fc
    val tmp = AtomicDir.tempSibling(dest.toString)(conf)
    Fio.mkdirs(tmp)(conf)
    val codec = Codec.copy(typesize = Bpp)
    val s = S // tasks must not capture the workload
    Trace.span("layer_pass") { root =>
      spark.sparkContext.parallelize(0 until s, s).foreach { i =>
        implicit val c: FioConf = conf
        Trace.span("layer_pass.unit", root) { unit =>
          val zLo = i * ChunkZ / s
          val zHi = ((i + 1) * ChunkZ - 1) / s
          val slab = new Array[Byte]((zHi - zLo + 1) * Ny * Nx * Bpp)
          Trace.span("volume.MhdReader.read", unit) { _ =>
            val h = Fio.openRandom(rawPath)
            try h.readFully(zLo.toLong * Ny * Nx * Bpp, slab) finally h.close()
          }
          Trace.count("volume.MhdReader.read_bytes", slab.length)
          Trace.count("volume.MhdReader.read_calls", 1)
          val it = ChunkKernels.upscaleChildrenSlab(slab, zLo, ChunkZ, Ny, Nx, Bpp, s,
            iLo = i, iHi = i + 1, reuse = true)
          while (it.hasNext) { // the kernel runs in next()
            val (ci, j, k, child) = Trace.span("volume.ChunkKernels.upscale", unit)(_ => it.next())
            Trace.count("volume.ChunkKernels.children", 1)
            Trace.count("volume.ChunkKernels.out_bytes", child.length)
            val enc = Trace.span("volume.ZarrStore.encode", unit)(_ => codec.compress(child))
            Trace.count("volume.ZarrStore.encode_chunks", 1)
            Trace.count("volume.ZarrStore.encode_in_bytes", child.length)
            Trace.count("volume.ZarrStore.encode_out_bytes", enc.length)
            Trace.span("io.Fio.write", unit) { _ => Fio.writeBytes(Fio.child(tmp, s"$ci.$j.$k"), enc) }
            Trace.count("io.Fio.write_bytes", enc.length)
            Trace.count("io.Fio.files_created", 1)
          }
        }
      }
      Trace.span("volume.AtomicDir.publish", root)(_ => AtomicDir.publish(tmp, dest.toString)(conf))
    }
    Trace.count("volume.MhdReader.source_bytes", ChunkZ.toLong * Ny * Nx * Bpp)
    Tree.delete(dest)
  }
}

/** Read-back of a ×2 store of a seeded atlas crop: full label
  * verification, a label histogram joined to region names, and
  * click-to-name lookups at seeded voxels.
  */
final class X2Readback(spark: SparkSession, rec: Recorder, work: Path, seed: Long) extends Workload {
  import Atlas._
  private val S = 2
  private val CropZ = 16
  private val TableRows = 2692
  private val dir = work.resolve("readback")
  private val rnd = new scala.util.Random(seed)
  private val z0 = ChunkZ * rnd.nextInt((VolumeBench.DimZ.toInt - CropZ) / ChunkZ + 1)
  private val dims = (CropZ.toLong * S, Ny.toLong * S, Nx.toLong * S)
  /** One click per store chunk, chunks in seeded order, voxel seeded
    * within its chunk: a pass decodes the same chunk set whatever the
    * seed, since a lookup's cost depends on where its chunk sits.
    */
  private val clicks: IndexedSeq[(Long, Long, Long)] = {
    val grid = for {
      cz <- 0 until (dims._1 / ChunkZ).toInt; cy <- 0 until S; cx <- 0 until S
    } yield (cz, cy, cx)
    rnd.shuffle(grid).map { case (cz, cy, cx) =>
      (cz.toLong * ChunkZ + rnd.nextInt(ChunkZ), cy.toLong * Ny + rnd.nextInt(Ny),
        cx.toLong * Nx + rnd.nextInt(Nx))
    }
  }
  /** Every atlas label (the fixture has 1,906), named, plus absent ids. */
  private val table: Map[Long, (String, String, Int)] = {
    val present = (for {
      z <- 0L until VolumeBench.DimZ by 24; y <- 0L until VolumeBench.DimY by 32
      x <- 0L until VolumeBench.DimX by 33
    } yield label(z, y, x)).distinct
    val absent = Iterator.continually(1L + rnd.nextInt(40000)).filterNot(present.toSet)
      .distinct.take(TableRows - present.size).toSeq
    def word() = Seq.fill(2 + rnd.nextInt(3))(('a' + rnd.nextInt(26)).toChar).mkString
    (present ++ absent).map(id =>
      id -> (s"${word().capitalize} ${word()} area ${rnd.nextInt(100)}", word().toUpperCase, 1 + rnd.nextInt(10))
    ).toMap
  }
  private val srcHist: Map[Long, Long] = {
    val m = scala.collection.mutable.HashMap.empty[Long, Long]
    for (z <- z0 until z0 + CropZ; y <- 0 until Ny; x <- 0 until Nx) {
      val l = label(z, y, x)
      m(l) = m.getOrElse(l, 0L) + 1
    }
    m.toMap
  }
  private var cropMhd = ""
  private val store = dir.resolve("x2.zarr")
  private val csv = dir.resolve("regions.csv")
  private def fc: FioConf = FioConf.of(spark)

  def setup(): Unit = {
    Tree.delete(dir)
    cropMhd = writeSlab(dir, "crop", z0, CropZ)
    val vol = MhdReader.readUpscaled(spark, MhdMeta.parse(cropMhd)(fc), ChunkZ, Ny, Nx, S,
      reuseChildBuffers = true)
    ZarrStore.write(vol, store.toString, Codec)
    val lines = "Region,RegionAbbr,RegionName,Level,Parent" +:
      rnd.shuffle(table.toSeq).map { case (id, (name, abbr, lvl)) => s"$id,$abbr,$name,$lvl,0" }
    Files.write(csv, lines.asJava)
  }

  private def regions = RegionTable.readCsv(spark, csv.toString)

  private def verify(): Unit = rec.op("verify") {
    val src = MhdReader.read(spark, MhdMeta.parse(cropMhd)(fc), ChunkZ, Ny, Nx)
    src.verifyUpscale(ZarrStore.read(spark, store.toString), S).collect().head
  } { r =>
    val want = dims._1 * dims._2 * dims._3
    rec.annotate("voxels" -> want.toDouble)
    if (r.getLong(0) == want && r.getLong(1) == want) None
    else Some(s"verify n_checked=${r.get(0)} n_match=${r.get(1)}, want $want both")
  }

  private def histogram(): Unit = rec.op("histogram") {
    val h = ZarrStore.read(spark, store.toString).histogram()
    h.join(regions, h("label") === col("Region"), "left")
      .select(h("label"), h("n"), col("RegionName")).collect()
  } { rows =>
    rec.annotate("labels" -> rows.length.toDouble)
    val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    if (got.size != srcHist.size) Some(s"${got.size} labels, want ${srcHist.size}")
    else srcHist.collectFirst {
      case (l, n) if !got.get(l).contains((n * S * S * S, table(l)._1)) =>
        s"label $l: got ${got.get(l)}, want ${(n * S * S * S, table(l)._1)}"
    }
  }

  private def click(i: Int): Unit = {
    val (z, y, x) = clicks(i)
    rec.op("lookup") {
      val l = ZarrStore.read(spark, store.toString).pointLookup(z, y, x)
      val text = l.map(id => Trace.span("volume.RegionTable.join")(_ =>
        RegionTable.lookupById(regions, id.toString)))
      (l, text)
    } { case (l, text) =>
      val want = label(z0 + z / S, y / S, x / S)
      val (name, abbr, lvl) = table(want)
      val chunkFile = store.resolve(s"${z / ChunkZ}.${y / Ny}.${x / Nx}")
      rec.annotate("chunk_file_bytes" -> Files.size(chunkFile).toDouble)
      if (!l.contains(want)) Some(s"lookup ($z,$y,$x) = $l, want $want")
      else if (!text.contains(s"Region $want: $name ($abbr), level $lvl"))
        Some(s"lookup ($z,$y,$x) named $text, want $name")
      else None
    }
  }

  def warmup(): Unit = pass(-1)

  def pass(i: Int): Unit = {
    verify()
    histogram()
    clicks.indices.foreach(click)
  }

  /** The store's decode side, layer by layer: read and decode every
    * chunk file, one span per chunk.
    */
  override def layerPass(): Unit = {
    val conf = fc
    val (zm, _) = ZarrStore.readMeta(store.toString)(conf)
    val path = store.toString
    Trace.span("layer_pass") { root =>
      val files = chunkFiles(store).map(_.getFileName.toString)
      spark.sparkContext.parallelize(files, files.size).foreach { f =>
        implicit val c: FioConf = conf
        Trace.span("volume.ZarrStore.decode", root) { _ =>
          val bytes = Fio.readAllBytes(Fio.child(path, f))
          zm.codec.decompress(bytes, zm.chunkElems * Bpp)
        }
        Trace.count("volume.ZarrStore.decode_chunks", 1)
      }
    }
  }
}
