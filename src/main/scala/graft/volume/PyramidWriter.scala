package graft.volume

import graft.io.{Fio, FioConf}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Multiscale pyramid sink (K3) + OME-style `multiscales` metadata, in
  * two dialects over one level loop: an OME-Zarr v2 group (NGFF 0.4,
  * [[write]]) and an OME-NGFF 0.5 zarr v3 group ([[writeV3]]). Both
  * dialects render the same multiscales entry and read it back through
  * one parser; only the group documents and the level array writer
  * differ.
  *
  * Mirrors write_ome_zarr_pyramid (upscale_streaming_enhance.py:190–255):
  * level i is written under `level=i/`, and the group attrs carry one
  * coordinateTransformations scale per level:
  *   scale_zyx(i) = (spacing_xyz reversed) · 2^i / upscaleFactor
  * — ElementSpacing is (x,y,z) in the header but OME axes here are
  * (z,y,x), hence the reversal (…:229–241); upscaling by `s` divides the
  * voxel pitch by s; each pyramid level doubles it.
  */
object PyramidWriter {

  import ChunkVolume.jsonStr

  /** The body of one multiscales entry — name, axes and one `datasets`
    * scale transform per level — with every line indented by `pad`.
    */
  private def multiscaleEntry(
      meta: VolumeMeta, upscaleFactor: Int, levels: Int, name: String, pad: String): String = {
    val datasets = (0 until levels).map { i =>
      val f = (1 << i).toDouble / upscaleFactor
      s"""$pad{
         |$pad  "path": "$i",
         |$pad  "coordinateTransformations": [{
         |$pad    "type": "scale",
         |$pad    "scale": [${meta.spacingZ * f}, ${meta.spacingY * f}, ${meta.spacingX * f}]
         |$pad  }]
         |$pad}""".stripMargin
    }.mkString(",\n")
    val axes = Seq("z", "y", "x")
      .map(a => s"""$pad  {"name": "$a", "type": "space", "unit": "micrometer"}""")
      .mkString(",\n")
    s"""$pad"name": ${jsonStr(name)},
       |$pad"axes": [
       |$axes
       |$pad],
       |$pad"datasets": [
       |$datasets
       |$pad]""".stripMargin
  }

  def multiscalesJson(meta: VolumeMeta, upscaleFactor: Int, levels: Int, name: String = "labels"): String =
    s"""{
       |  "multiscales": [{
       |    "version": "0.4",
       |${multiscaleEntry(meta, upscaleFactor, levels, name, "    ")}
       |  }],
       |  "image-label": true
       |}
       |""".stripMargin

  /** The one level loop of both dialects: build the pyramid, land level
    * i's array (the files `levelFiles` gives for its metadata) straight
    * into `<group>/i`, then let `finish` add the group documents — all
    * staged and published as one group ([[Landing.Swap]]): overwrite
    * semantics like the reference's rmtree, but atomic and without an
    * O(files) driver delete. Levels execute sequentially, each
    * a chunk-local decimation of the previous — same lifecycle as the
    * reference's per-level `da.store` loop. One chunk tuple serves every
    * level (reference: create_dataset(..., chunks=chunks) per level):
    * decimation halves per-chunk extents on the global lattice
    * (non-uniform grid), so each level ≥ 1 is re-blocked to the base chunk
    * shape clamped to its dims — zarr requires uniform chunks.
    */
  private def writeGroup(vol: ChunkVolume, levels: Int, path: String)(
      levelFiles: VolumeMeta => ZarrStore.ArrayFiles)(finish: String => Unit)(
      implicit fc: FioConf): Unit = {
    val pyr = vol.pyramid(levels)
    val (bz, by, bx) = vol.meta.chunkShape
    Landing.run(path, appendTo = None) { l =>
      pyr.zipWithIndex.foreach { case (level, i) =>
        val uniform =
          if (i == 0) level
          else level.rechunk(
            math.min(bz.toLong, level.meta.dimZ).toInt,
            math.min(by.toLong, level.meta.dimY).toInt,
            math.min(bx.toLong, level.meta.dimX).toInt)
        ZarrStore.fillArray(uniform.chunks, Fio.child(l.dir, i.toString), levelFiles(uniform.meta))
      }
      finish(l.dir)
      None
    }
  }

  /** Write `levels` pyramid levels of `vol` as a REAL OME-Zarr v2 group:
    * `.zgroup` + `multiscales` group attrs (`.zattrs`) + consolidated
    * `.zmetadata`, levels as spec-compliant zarr arrays under `path/0`,
    * `path/1`, … — the layout `zarr.open_group` / napari / dask read
    * directly (upscale_streaming_enhance.py:190–255).
    */
  def write(vol: ChunkVolume, levels: Int, path: String, upscaleFactor: Int = 1,
      codec: ZarrStore.Codec = ZarrStore.ZstdCodec()): Unit = {
    implicit val fc: FioConf = FioConf.of(vol.chunks.sparkSession)
    writeGroup(vol, levels, path)(m => ZarrStore.v2Files(ZarrStore.metaOf(m, codec), m, Map.empty)) { dir =>
      Fio.writeString(Fio.child(dir, ".zgroup"), "{\n    \"zarr_format\": 2\n}")
      Fio.writeString(Fio.child(dir, ".zattrs"), multiscalesJson(vol.meta, upscaleFactor, levels))
      writeConsolidatedMetadata(dir, levels)
      writeSidecar(dir, vol.meta, Map(
        "pyramid_levels" -> levels.toString,
        "upscale_factor" -> upscaleFactor.toString))
    }
  }

  /** The group's JSON provenance sidecar (K4, the reference's
    * `.atlas_upscale_meta.json` analog): level 0's dims, chunk grid,
    * spacing and element type, then the `extra` fields sorted by key.
    */
  private val SidecarName = ".graft_volume_meta.json"

  private def writeSidecar(path: String, meta: VolumeMeta, extra: Map[String, String])(
      implicit fc: FioConf): Unit = {
    val fields = Seq(
      "dimZ" -> meta.dimZ.toString, "dimY" -> meta.dimY.toString, "dimX" -> meta.dimX.toString,
      "chunkZ" -> meta.chunkZ.toString, "chunkY" -> meta.chunkY.toString, "chunkX" -> meta.chunkX.toString,
      "ncz" -> meta.ncz.toString, "ncy" -> meta.ncy.toString, "ncx" -> meta.ncx.toString,
      "spacingX" -> meta.spacingX.toString, "spacingY" -> meta.spacingY.toString, "spacingZ" -> meta.spacingZ.toString,
    ).map { case (k, v) => s"  ${jsonStr(k)}: $v" } ++
      Seq(s"  ${jsonStr("elementType")}: ${jsonStr(meta.elementType)}") ++
      extra.toSeq.sortBy(_._1).map { case (k, v) => s"  ${jsonStr(k)}: ${jsonStr(v)}" }
    Fio.writeString(Fio.child(path, SidecarName), fields.mkString("{\n", ",\n", "\n}\n"))
  }

  /** Zarr v2 CONSOLIDATED metadata (`.zmetadata`,
    * zarr_consolidated_format 1): every metadata document of the group
    * gathered into one file, exactly what `zarr.consolidate_metadata`
    * emits and `zarr.open_consolidated` reads. On object storage this is
    * the difference between 2 + 2·levels metadata GETs (with listing) and
    * ONE — the standard convention for cloud-hosted OME-Zarr.
    */
  private def writeConsolidatedMetadata(path: String, levels: Int)(implicit fc: FioConf): Unit = {
    val docs = scala.collection.mutable.LinkedHashMap[String, JValue]()
    def add(key: String, file: String): Unit =
      Fio.readStringIfExists(file).foreach(body => docs(key) = JsonMethods.parse(body))
    add(".zgroup", Fio.child(path, ".zgroup"))
    add(".zattrs", Fio.child(path, ".zattrs"))
    for (i <- 0 until levels) {
      add(s"$i/.zarray", Fio.child(path, s"$i/.zarray"))
      add(s"$i/.zattrs", Fio.child(path, s"$i/.zattrs"))
    }
    val consolidated = JObject(
      "metadata" -> JObject(docs.toList: _*),
      "zarr_consolidated_format" -> JInt(1))
    Fio.writeString(Fio.child(path, ".zmetadata"),
      JsonMethods.pretty(JsonMethods.render(consolidated)))
  }

  /** A parsed OME-Zarr multiscales group: level paths in dataset order
    * and each level's (z,y,x) scale transform — what `zarr.open_group` +
    * `attrs["multiscales"]` gives the reference's viewer
    * (view_upscaled.py:11) before it picks a level.
    */
  final case class PyramidGroup(path: String, name: String,
      levelPaths: Seq[String], scalesZyx: Seq[Seq[Double]]) {
    def levels: Int = levelPaths.length
  }

  /** The first multiscales entry under `holder` (`.zattrs` of a v2
    * group, `attributes.ome` of an NGFF 0.5 group) as a [[PyramidGroup]];
    * fails loudly on a missing entry, empty datasets or a dataset
    * without a path.
    */
  private def parseMultiscales(path: String, holder: JValue, holderName: String): PyramidGroup = {
    val multiscales = (holder \ "multiscales") match {
      case JArray(ms :: _) => ms
      case _ => throw new IllegalArgumentException(
        s"$path: $holderName carries no multiscales entry — a zarr group, but not a pyramid")
    }
    val name = (multiscales \ "name") match {
      case JString(n) => n
      case _ => ""
    }
    val datasets = (multiscales \ "datasets") match {
      case JArray(ds) if ds.nonEmpty => ds
      case _ => throw new IllegalArgumentException(s"$path: multiscales has no datasets")
    }
    val levelPaths = datasets.map { d =>
      (d \ "path") match {
        case JString(p) => p
        case _ => throw new IllegalArgumentException(s"$path: multiscales dataset missing path")
      }
    }
    val scales = datasets.map { d =>
      (d \ "coordinateTransformations") match {
        case JArray(ts) =>
          ts.collectFirst { case t if (t \ "type") == JString("scale") =>
            (t \ "scale") match {
              case JArray(vs) => vs.map {
                case JDouble(v) => v
                case JInt(v) => v.toDouble
                case other => throw new IllegalArgumentException(
                  s"$path: non-numeric scale component $other")
              }
              case _ => throw new IllegalArgumentException(s"$path: scale transform without scale array")
            }
          }.getOrElse(Seq.empty)
        case _ => Seq.empty
      }
    }
    PyramidGroup(path, name, levelPaths, scales)
  }

  /** Open a pyramid group by its METADATA, the way a zarr client does:
    * consolidated `.zmetadata` when present (the one-GET cloud path,
    * `zarr.open_consolidated`), else `.zgroup` + `.zattrs`
    * (`zarr.open_group`). Returns the parsed `multiscales` entry; fails
    * loudly on a missing group, a non-v2 group, or attrs without
    * multiscales — never guesses level directories from listings.
    */
  def openGroup(path: String)(implicit fc: FioConf): PyramidGroup = {
    require(Fio.isDirectory(path), s"$path: not a directory (no zarr group here)")
    val zmeta = Fio.readStringIfExists(Fio.child(path, ".zmetadata"))
    val (groupDoc, attrsDoc): (JValue, JValue) =
      zmeta match {
        case Some(body) =>
          val c = JsonMethods.parse(body)
          require((c \ "zarr_consolidated_format") == JInt(1),
            s"$path/.zmetadata: unsupported zarr_consolidated_format (want 1)")
          val docs = c \ "metadata"
          (docs \ ".zgroup", docs \ ".zattrs")
        case None =>
          val zgroup = Fio.readStringIfExists(Fio.child(path, ".zgroup"))
          val zattrs = Fio.readStringIfExists(Fio.child(path, ".zattrs"))
          require(zgroup.nonEmpty, s"$path: no .zmetadata and no .zgroup — not a zarr group")
          require(zattrs.nonEmpty, s"$path: group has no .zattrs (no multiscales metadata)")
          (JsonMethods.parse(zgroup.get), JsonMethods.parse(zattrs.get))
      }
    require((groupDoc \ "zarr_format") == JInt(2),
      s"$path: zarr_format ${JsonMethods.compact(JsonMethods.render(groupDoc \ "zarr_format"))} (want 2)")
    parseMultiscales(path, attrsDoc, ".zattrs")
  }

  /** The array path of `level`, which the group's metadata must declare
    * — a directory of that name alone is not a level.
    */
  private def levelPath(g: PyramidGroup, level: Int): String = {
    require(level >= 0 && level < g.levels,
      s"${g.path}: level $level out of range — multiscales declares ${g.levels} levels")
    Fio.child(g.path, g.levelPaths(level))
  }

  /** Read back one pyramid level THROUGH the group metadata (the read
    * half of view_upscaled.py:11): resolve `multiscales.datasets[level]
    * .path` via [[openGroup]], then open that zarr array.
    */
  def readLevel(spark: org.apache.spark.sql.SparkSession, path: String, level: Int): ChunkVolume =
    ZarrStore.read(spark, levelPath(openGroup(path), level))

  // ------------------------------------------------------ NGFF 0.5 (v3)

  /** OME-NGFF 0.5 group document: a zarr v3 GROUP whose multiscales live
    * under `attributes.ome` with the version at the `ome` level — the
    * layout ome-zarr-py ≥ 0.5 / zarr-python 3 read.
    */
  def ngff05GroupJson(meta: VolumeMeta, upscaleFactor: Int, levels: Int, name: String = "labels"): String =
    s"""{
       |  "zarr_format": 3,
       |  "node_type": "group",
       |  "attributes": {
       |    "ome": {
       |      "version": "0.5",
       |      "multiscales": [{
       |${multiscaleEntry(meta, upscaleFactor, levels, name, "        ")}
       |      }]
       |    }
       |  }
       |}
       |""".stripMargin

  /** Write the pyramid as an OME-NGFF 0.5 group: zarr v3 group document
    * + levels as zarr v3 arrays under `0/`, `1/`, … With `shardInner`,
    * levels are sharded — the at-scale NGFF layout: object count per
    * level scales with SHARDS (the level's chunk grid), reads stay one
    * inner chunk; the level's uniform chunk shape must be a multiple of
    * the inner shape (writeSharded fails loud).
    */
  def writeV3(vol: ChunkVolume, levels: Int, path: String, upscaleFactor: Int = 1,
      codec: ZarrStore.Codec = ZarrStore.ZstdCodec(),
      shardInner: Option[(Int, Int, Int)] = None): Unit = {
    implicit val fc: FioConf = FioConf.of(vol.chunks.sparkSession)
    writeGroup(vol, levels, path) { m =>
      shardInner match {
        case Some(inner) => Zarr3Store.shardedFiles(m, inner, codec, Map.empty)
        case None => Zarr3Store.plainFiles(m, codec, Map.empty)
      }
    } { dir =>
      Fio.writeString(Fio.child(dir, "zarr.json"), ngff05GroupJson(vol.meta, upscaleFactor, levels))
    }
  }

  /** Open an NGFF 0.5 group by its `zarr.json`: v3 group node,
    * `attributes.ome.version == 0.5`, multiscales under `attributes.ome`.
    * Fails loudly on v2 groups (use [[openGroup]]) or missing ome attrs.
    */
  def openGroupV3(path: String)(implicit fc: FioConf): PyramidGroup = {
    val doc = Fio.readStringIfExists(Fio.child(path, "zarr.json"))
    require(doc.nonEmpty, s"$path: no zarr.json — not a zarr v3 group")
    val v = JsonMethods.parse(doc.get)
    require((v \ "zarr_format") == JInt(3), s"$path: not a zarr v3 document")
    require((v \ "node_type") == JString("group"), s"$path: not a group node")
    val ome = v \ "attributes" \ "ome"
    require(ome != JNothing, s"$path: group carries no attributes.ome (not NGFF >= 0.5)")
    parseMultiscales(path, ome, "attributes.ome")
  }

  /** Read one level of an NGFF 0.5 group through its metadata. */
  def readLevelV3(spark: org.apache.spark.sql.SparkSession, path: String, level: Int): ChunkVolume =
    Zarr3Store.read(spark, levelPath(openGroupV3(path), level))
}
