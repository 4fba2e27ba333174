package graft.volume

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.sys.process._

/** Cross-implementation interop: exchanges zarr v2 stores with, and
  * hands engine-written v3 stores to, an INDEPENDENT reader/writer of
  * the spec (python + numpy + stdlib zlib/gzip — the exact byte
  * semantics python-zarr's Zlib and Gzip codecs use), proving the
  * on-disk format is really zarr and not merely zarr-shaped. Skipped when
  * python3/numpy is unavailable.
  */
class ZarrInteropSpec extends AnyFunSuite with SparkSpec {

  private def havePython: Boolean =
    try Process(Seq("python3", "-c", "import numpy")).!(ProcessLogger(_ => ())) == 0
    catch { case _: Exception => false }

  // the group-fixture generator is pure stdlib — no numpy required
  private def havePython3: Boolean =
    try Process(Seq("python3", "-c", "")).!(ProcessLogger(_ => ())) == 0
    catch { case _: Exception => false }

  /** Generate the foreign OME-Zarr multiscales group fixture (pure-stdlib
    * python encoder, independent of PyramidWriter) in the given layout.
    */
  private def genForeignGroup(layout: String): String = {
    val dest = Files.createTempDirectory("zarr_fgroup").resolve("group")
    val gen = Paths.get("tools/gen_zarr_group_fixture.py").toAbsolutePath
    val out = Process(Seq("python3", gen.toString, dest.toString, "--layout", layout)).!!
    assert(out.contains("GROUP_FIXTURE_OK"))
    dest.toString
  }

  private def groupLabel(z: Long, y: Long, x: Long): Long =
    (z / 4) * 100 + (y / 4) * 10 + x / 4

  private val (dz, dy, dx) = (5L, 4L, 6L)

  private lazy val vol = {
    val vox = spark.range(dz * dy * dx).selectExpr(
      s"id div ${dy * dx} as z",
      s"(id div $dx) % $dy as y",
      s"id % $dx as x",
      s"(id * 13) % 251 as label")
    ChunkVolume.fromVoxels(vox, dz, dy, dx, 2, 3, 4)
  }

  test("python (numpy+zlib) reads a ZarrStore-written array bit-exactly") {
    assume(havePython, "python3+numpy not available")
    val dir = Files.createTempDirectory("zarr_py").toString + "/out.zarr"
    ZarrStore.write(vol, dir, ZarrStore.Zlib(5))
    // independent reader: parse .zarray, inflate each chunk, assemble the
    // array, compare against the same deterministic formula
    val script =
      s"""
         |import json, zlib, sys
         |import numpy as np
         |d = "$dir"
         |za = json.load(open(d + "/.zarray"))
         |assert za["zarr_format"] == 2 and za["order"] == "C"
         |assert za["compressor"] == {"id": "zlib", "level": 5}, za["compressor"]
         |Z, Y, X = za["shape"]; cz, cy, cx = za["chunks"]
         |dt = np.dtype(za["dtype"])
         |assert dt == np.dtype("<u4"), dt
         |arr = np.zeros((Z, Y, X), dtype=dt)
         |for iz in range((Z + cz - 1) // cz):
         |    for iy in range((Y + cy - 1) // cy):
         |        for ix in range((X + cx - 1) // cx):
         |            raw = zlib.decompress(open(f"{d}/{iz}.{iy}.{ix}", "rb").read())
         |            blk = np.frombuffer(raw, dtype=dt).reshape(cz, cy, cx)
         |            z0, y0, x0 = iz * cz, iy * cy, ix * cx
         |            nz, ny, nx = min(cz, Z - z0), min(cy, Y - y0), min(cx, X - x0)
         |            arr[z0:z0+nz, y0:y0+ny, x0:x0+nx] = blk[:nz, :ny, :nx]
         |ids = np.arange(Z * Y * X).reshape(Z, Y, X)
         |expect = (ids * 13) % 251
         |assert (arr == expect).all(), "voxel mismatch"
         |print("PY_READ_OK")
         |""".stripMargin
    val out = Process(Seq("python3", "-c", script)).!!
    assert(out.contains("PY_READ_OK"))
  }

  test("python (numpy+gzip) reads Zarr3Store-written plain and sharded arrays bit-exactly") {
    assume(havePython, "python3+numpy not available")
    val root = Files.createTempDirectory("zarr3_py").toString
    val plain = root + "/plain.zarr"
    val sharded = root + "/sharded.zarr"
    Zarr3Store.write(vol, plain, ZarrStore.GzipCodec(5))
    // inner (1,3,2) splits each (2,3,4) shard into 4 cells; the z = 5
    // cells of the last shard row lie outside the array (missing entries)
    Zarr3Store.writeSharded(vol, sharded, (1, 3, 2), ZarrStore.GzipCodec(5))
    // independent reader of the v3 spec: zarr.json, c/-prefixed keys, the
    // bytes+gzip pipeline, and the sharding_indexed (offset, nbytes)
    // uint64-LE index with its crc32c (Castagnoli, written out here)
    val script =
      s"""
         |import gzip, json, struct
         |import numpy as np
         |def crc32c(data):
         |    crc = 0xFFFFFFFF
         |    for b in data:
         |        crc ^= b
         |        for _ in range(8):
         |            crc = (crc >> 1) ^ (0x82F63B78 & -(crc & 1))
         |    return crc ^ 0xFFFFFFFF
         |assert crc32c(b"123456789") == 0xE3069283
         |def doc(d):
         |    m = json.load(open(d + "/zarr.json"))
         |    assert m["zarr_format"] == 3 and m["node_type"] == "array", m
         |    assert m["data_type"] == "uint32" and m["fill_value"] == 0, m
         |    assert m["chunk_key_encoding"]["configuration"]["separator"] == "/"
         |    return m
         |def pipeline(codecs):
         |    assert codecs[0] == {"name": "bytes", "configuration": {"endian": "little"}}, codecs
         |    assert [c["name"] for c in codecs[1:]] == ["gzip"], codecs
         |    return lambda blob, shape: np.frombuffer(gzip.decompress(blob), dtype="<u4").reshape(shape)
         |def grid(shape, chunks):
         |    return [(s + c - 1) // c for s, c in zip(shape, chunks)]
         |def place(arr, blk, origin):
         |    sl = tuple(slice(o, min(o + n, s)) for o, n, s in zip(origin, blk.shape, arr.shape))
         |    arr[sl] = blk[tuple(slice(0, t.stop - t.start) for t in sl)]
         |def key(d, idx):
         |    return d + "/c/" + "/".join(str(i) for i in idx)
         |Z, Y, X = $dz, $dy, $dx
         |expect = ((np.arange(Z * Y * X) * 13) % 251).reshape(Z, Y, X)
         |m = doc("$plain")
         |shape, ch = m["shape"], m["chunk_grid"]["configuration"]["chunk_shape"]
         |dec = pipeline(m["codecs"])
         |arr = np.zeros(shape, dtype="<u4")
         |for idx in np.ndindex(*grid(shape, ch)):
         |    place(arr, dec(open(key("$plain", idx), "rb").read(), ch), [i * c for i, c in zip(idx, ch)])
         |assert (arr == expect).all(), "plain voxel mismatch"
         |m = doc("$sharded")
         |shape, sh = m["shape"], m["chunk_grid"]["configuration"]["chunk_shape"]
         |[codec] = m["codecs"]
         |assert codec["name"] == "sharding_indexed", codec
         |conf = codec["configuration"]
         |assert conf["index_location"] == "end"
         |assert [c["name"] for c in conf["index_codecs"]] == ["bytes", "crc32c"]
         |inner, dec = conf["chunk_shape"], pipeline(conf["codecs"])
         |per = [s // i for s, i in zip(sh, inner)]
         |n = per[0] * per[1] * per[2]
         |arr = np.zeros(shape, dtype="<u4")
         |missing = 0
         |for sidx in np.ndindex(*grid(shape, sh)):
         |    f = open(key("$sharded", sidx), "rb").read()
         |    index = f[len(f) - 16 * n - 4:]
         |    assert struct.unpack("<I", index[-4:])[0] == crc32c(index[:-4]), "index crc32c"
         |    for cell, lidx in enumerate(np.ndindex(*per)):
         |        off, nbytes = struct.unpack_from("<QQ", index, 16 * cell)
         |        origin = [s * a + l * i for s, a, l, i in zip(sidx, sh, lidx, inner)]
         |        if off == nbytes == 2**64 - 1:
         |            assert any(o >= s for o, s in zip(origin, shape)), "in-array cell missing"
         |            missing += 1
         |            continue
         |        place(arr, dec(f[off:off + nbytes], inner), origin)
         |assert missing > 0, "expected cells outside the array"
         |assert (arr == expect).all(), "sharded voxel mismatch"
         |print("PY_V3_READ_OK")
         |""".stripMargin
    val out = Process(Seq("python3", "-c", script)).!!
    assert(out.contains("PY_V3_READ_OK"))
  }

  test("python independently decodes a blosc-container chunk (zlib, byte-shuffle)") {
    assume(havePython, "python3+numpy not available")
    val dir = Files.createTempDirectory("zarr_blosc").toString + "/b.zarr"
    ZarrStore.write(vol, dir, ZarrStore.BloscCodec("zlib", 5, shuffle = 1))
    // independent C-Blosc v1 reader: parse the 16-byte header, per-block
    // offsets, [csize][payload] blocks, zlib inflate, byte-unshuffle —
    // written from the public format spec, sharing no code with the engine
    val script =
      s"""
         |import json, zlib, struct
         |import numpy as np
         |d = "$dir"
         |za = json.load(open(d + "/.zarray"))
         |assert za["compressor"]["id"] == "blosc" and za["compressor"]["cname"] == "zlib"
         |assert za["compressor"]["shuffle"] == 1
         |Z, Y, X = za["shape"]; cz, cy, cx = za["chunks"]
         |dt = np.dtype(za["dtype"]); T = dt.itemsize
         |def blosc_decode(buf):
         |    ver, verlz, flags, tsize = buf[0], buf[1], buf[2], buf[3]
         |    nbytes, blocksize, cbytes = struct.unpack_from("<iii", buf, 4)
         |    assert tsize == T and flags & 0x4 == 0
         |    if flags & 0x2:  # memcpyed
         |        return buf[16:16+nbytes]
         |    assert flags >> 5 == 3, "zlib inner codec expected"
         |    nblocks = max(1, -(-nbytes // blocksize))
         |    bstarts = struct.unpack_from("<%di" % nblocks, buf, 16)
         |    out = bytearray(nbytes)
         |    for b in range(nblocks):
         |        off = b * blocksize
         |        ne = min(blocksize, nbytes - off)
         |        p = bstarts[b]
         |        csize = struct.unpack_from("<i", buf, p)[0]
         |        payload = buf[p+4:p+4+csize]
         |        plain = bytes(payload) if csize == ne else zlib.decompress(payload)
         |        assert len(plain) == ne
         |        if flags & 0x1:  # byte unshuffle
         |            n = ne // T
         |            arr = np.frombuffer(plain[:n*T], dtype=np.uint8).reshape(T, n)
         |            out[off:off+n*T] = arr.T.tobytes()
         |            out[off+n*T:off+ne] = plain[n*T:]
         |        else:
         |            out[off:off+ne] = plain
         |    return bytes(out)
         |arr = np.zeros((Z, Y, X), dtype=dt)
         |for iz in range(-(-Z//cz)):
         |    for iy in range(-(-Y//cy)):
         |        for ix in range(-(-X//cx)):
         |            raw = blosc_decode(open(f"{d}/{iz}.{iy}.{ix}", "rb").read())
         |            blk = np.frombuffer(raw, dtype=dt).reshape(cz, cy, cx)
         |            z0, y0, x0 = iz*cz, iy*cy, ix*cx
         |            nz, ny, nx = min(cz, Z-z0), min(cy, Y-y0), min(cx, X-x0)
         |            arr[z0:z0+nz, y0:y0+ny, x0:x0+nx] = blk[:nz, :ny, :nx]
         |ids = np.arange(Z * Y * X).reshape(Z, Y, X)
         |assert (arr == (ids * 13) % 251).all(), "voxel mismatch"
         |print("PY_BLOSC_OK")
         |""".stripMargin
    val out = Process(Seq("python3", "-c", script)).!!
    assert(out.contains("PY_BLOSC_OK"))
  }

  test("ZarrStore reads a python-written blosc container (zlib, byte-shuffle)") {
    assume(havePython, "python3+numpy not available")
    val dir = Files.createTempDirectory("zarr_blosc2").toString + "/in.zarr"
    Files.createDirectories(Paths.get(dir))
    // independent writer of the same container format
    val script =
      s"""
         |import json, zlib, struct
         |import numpy as np
         |d = "$dir"
         |Z, Y, X = $dz, $dy, $dx
         |cz, cy, cx = 2, 3, 4
         |T = 4
         |ids = np.arange(Z * Y * X).reshape(Z, Y, X)
         |arr = ((ids * 13) % 251).astype("<u4")
         |json.dump({"zarr_format": 2, "shape": [Z, Y, X], "chunks": [cz, cy, cx],
         |           "dtype": "<u4",
         |           "compressor": {"id": "blosc", "cname": "zlib", "clevel": 5,
         |                          "shuffle": 1, "blocksize": 0},
         |           "fill_value": 0, "order": "C", "filters": None},
         |          open(d + "/.zarray", "w"))
         |def blosc_encode(raw):
         |    n = len(raw) // T
         |    shuf = np.frombuffer(raw[:n*T], dtype=np.uint8).reshape(n, T).T.tobytes() + raw[n*T:]
         |    comp = zlib.compress(shuf, 5)
         |    payload = comp if len(comp) < len(raw) else shuf
         |    csize = len(payload) if len(comp) < len(raw) else len(raw)
         |    # single block; flags: shuffle | zlib<<5
         |    head = bytes([2, 1, 0x1 | (3 << 5), T])
         |    head += struct.pack("<iii", len(raw), len(raw), 16 + 4 + 4 + len(payload))
         |    head += struct.pack("<i", 20)  # one bstart: 16 hdr + 4 offset entry
         |    return head + struct.pack("<i", csize) + payload
         |pad = np.zeros((cz, cy, cx), dtype="<u4")
         |for iz in range(-(-Z//cz)):
         |    for iy in range(-(-Y//cy)):
         |        for ix in range(-(-X//cx)):
         |            blk = pad.copy()
         |            z0, y0, x0 = iz*cz, iy*cy, ix*cx
         |            nz, ny, nx = min(cz, Z-z0), min(cy, Y-y0), min(cx, X-x0)
         |            blk[:nz, :ny, :nx] = arr[z0:z0+nz, y0:y0+ny, x0:x0+nx]
         |            open(f"{d}/{iz}.{iy}.{ix}", "wb").write(blosc_encode(blk.tobytes()))
         |print("PY_BLOSC_WRITE_OK")
         |""".stripMargin
    assert(Process(Seq("python3", "-c", script)).!!.contains("PY_BLOSC_WRITE_OK"))
    val back = ZarrStore.read(spark, dir)
    assert(back.meta.elementType === "MET_UINT")
    val got = back.toVoxels.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    for (z <- 0L until dz; y <- 0L until dy; x <- 0L until dx) {
      val id = (z * dy + y) * dx + x
      assert(got((z, y, x)) === (id * 13) % 251, s"voxel ($z,$y,$x)")
    }
  }

  // Independent numpy formulation of the bitshuffle transform (vs the
  // engine's staged 64-bit transpose): unpackbits to the (elements ×
  // typesize × 8) bit tensor, transpose, packbits. Shared by the two
  // bitshuffle interop tests below.
  private val pyBitshuffle =
    """
      |def bitshuffle(raw, T):
      |    n = len(raw) // T
      |    m = n - n % 8
      |    out = bytearray(len(raw))
      |    if m:
      |        a = np.frombuffer(raw[:m*T], np.uint8).reshape(m, T)
      |        bits = np.unpackbits(a[:, :, None], axis=2, bitorder='little')  # (e,k,j)
      |        rows = bits.transpose(1, 2, 0).reshape(T * 8, m)                # (k*8+j, e)
      |        out[:m*T] = np.packbits(rows, axis=1, bitorder='little').tobytes()
      |    out[m*T:] = raw[m*T:]
      |    return bytes(out)
      |def bitunshuffle(buf, T):
      |    n = len(buf) // T
      |    m = n - n % 8
      |    out = bytearray(len(buf))
      |    if m:
      |        rows = np.frombuffer(buf[:m*T], np.uint8).reshape(T * 8, m // 8)
      |        bits = np.unpackbits(rows, axis=1, bitorder='little')           # (k*8+j, e)
      |        b = bits.reshape(T, 8, m).transpose(2, 0, 1)                    # (e,k,j)
      |        out[:m*T] = np.packbits(b, axis=2, bitorder='little').reshape(m, T).tobytes()
      |    out[m*T:] = buf[m*T:]
      |    return bytes(out)
      |""".stripMargin

  // Pure-python LZ4 block codec written from the published block format
  // (token nibbles, 15-run length extensions, 16-bit LE match offsets,
  // minmatch 4, last-5-literals / no-match-in-last-12 end rules) — fully
  // independent of lz4-java.
  private val pyLz4 =
    """
      |def lz4_decompress(buf, pos, outlen):
      |    out = bytearray()
      |    while True:
      |        token = buf[pos]; pos += 1
      |        lit = token >> 4
      |        if lit == 15:
      |            while True:
      |                b = buf[pos]; pos += 1; lit += b
      |                if b != 255: break
      |        out += buf[pos:pos+lit]; pos += lit
      |        if len(out) >= outlen: break
      |        off = buf[pos] | (buf[pos+1] << 8); pos += 2
      |        ml = token & 15
      |        if ml == 15:
      |            while True:
      |                b = buf[pos]; pos += 1; ml += b
      |                if b != 255: break
      |        ml += 4
      |        start = len(out) - off
      |        for i in range(ml):
      |            out.append(out[start + i])
      |    assert len(out) == outlen, (len(out), outlen)
      |    return bytes(out)
      |def lz4_compress(src):
      |    n = len(src); out = bytearray(); table = {}; anchor = 0; i = 0
      |    def runlen(v):
      |        r = bytearray()
      |        while v >= 255: r.append(255); v -= 255
      |        r.append(v); return r
      |    while i <= n - 12:
      |        key = bytes(src[i:i+4]); j = table.get(key, -1)
      |        if j >= 0 and i - j <= 0xffff:
      |            ml = 4
      |            while i + ml < n - 5 and src[j + ml] == src[i + ml]: ml += 1
      |            lit = i - anchor
      |            out.append((min(lit, 15) << 4) | min(ml - 4, 15))
      |            if lit >= 15: out += runlen(lit - 15)
      |            out += src[anchor:i]
      |            off = i - j
      |            out.append(off & 0xff); out.append(off >> 8)
      |            if ml - 4 >= 15: out += runlen(ml - 4 - 15)
      |            table[key] = i; i += ml; anchor = i
      |        else:
      |            table[key] = i; i += 1
      |    lit = n - anchor
      |    out.append(min(lit, 15) << 4)
      |    if lit >= 15: out += runlen(lit - 15)
      |    out += src[anchor:]
      |    return bytes(out)
      |""".stripMargin

  // c-blosc's split_block rule, needed by any independent reader/writer
  // of lz4-family containers (both sides recompute it from the header)
  private val pySplit =
    """
      |def nsplits(fmt, T, blocksize, leftover):
      |    if leftover or fmt not in (0, 1): return 1
      |    if T < 1 or T > 16 or blocksize % T or blocksize // T < 128: return 1
      |    return T
      |""".stripMargin

  test("python (numpy+zlib) independently decodes a blosc BITSHUFFLE store") {
    assume(havePython, "python3+numpy not available")
    val dir = Files.createTempDirectory("zarr_bit").toString + "/b.zarr"
    ZarrStore.write(vol, dir, ZarrStore.BloscCodec("zlib", 5, shuffle = 2))
    val script =
      s"""
         |import json, zlib, struct
         |import numpy as np
         |$pyBitshuffle
         |d = "$dir"
         |za = json.load(open(d + "/.zarray"))
         |assert za["compressor"]["id"] == "blosc" and za["compressor"]["shuffle"] == 2
         |Z, Y, X = za["shape"]; cz, cy, cx = za["chunks"]
         |dt = np.dtype(za["dtype"]); T = dt.itemsize
         |def blosc_decode(buf):
         |    ver, verlz, flags, tsize = buf[0], buf[1], buf[2], buf[3]
         |    nbytes, blocksize, cbytes = struct.unpack_from("<iii", buf, 4)
         |    assert tsize == T and flags & 0x4 and not flags & 0x1
         |    if flags & 0x2:
         |        return buf[16:16+nbytes]
         |    assert flags >> 5 == 3, "zlib inner codec expected"
         |    nblocks = max(1, -(-nbytes // blocksize))
         |    bstarts = struct.unpack_from("<%di" % nblocks, buf, 16)
         |    out = bytearray(nbytes)
         |    for b in range(nblocks):
         |        off = b * blocksize
         |        ne = min(blocksize, nbytes - off)
         |        p = bstarts[b]
         |        csize = struct.unpack_from("<i", buf, p)[0]
         |        payload = buf[p+4:p+4+csize]
         |        plain = bytes(payload) if csize == ne else zlib.decompress(payload)
         |        out[off:off+ne] = bitunshuffle(plain, T)
         |    return bytes(out)
         |arr = np.zeros((Z, Y, X), dtype=dt)
         |for iz in range(-(-Z//cz)):
         |    for iy in range(-(-Y//cy)):
         |        for ix in range(-(-X//cx)):
         |            raw = blosc_decode(open(f"{d}/{iz}.{iy}.{ix}", "rb").read())
         |            blk = np.frombuffer(raw, dtype=dt).reshape(cz, cy, cx)
         |            z0, y0, x0 = iz*cz, iy*cy, ix*cx
         |            nz, ny, nx = min(cz, Z-z0), min(cy, Y-y0), min(cx, X-x0)
         |            arr[z0:z0+nz, y0:y0+ny, x0:x0+nx] = blk[:nz, :ny, :nx]
         |ids = np.arange(Z * Y * X).reshape(Z, Y, X)
         |assert (arr == (ids * 13) % 251).all(), "voxel mismatch"
         |print("PY_BITSHUF_OK")
         |""".stripMargin
    assert(Process(Seq("python3", "-c", script)).!!.contains("PY_BITSHUF_OK"))
  }

  test("ZarrStore reads a python-written blosc BITSHUFFLE container") {
    assume(havePython, "python3+numpy not available")
    val dir = Files.createTempDirectory("zarr_bit2").toString + "/in.zarr"
    Files.createDirectories(Paths.get(dir))
    val script =
      s"""
         |import json, zlib, struct
         |import numpy as np
         |$pyBitshuffle
         |d = "$dir"
         |Z, Y, X = $dz, $dy, $dx
         |cz, cy, cx = 2, 3, 4
         |T = 4
         |ids = np.arange(Z * Y * X).reshape(Z, Y, X)
         |arr = ((ids * 13) % 251).astype("<u4")
         |json.dump({"zarr_format": 2, "shape": [Z, Y, X], "chunks": [cz, cy, cx],
         |           "dtype": "<u4",
         |           "compressor": {"id": "blosc", "cname": "zlib", "clevel": 5,
         |                          "shuffle": 2, "blocksize": 0},
         |           "fill_value": 0, "order": "C", "filters": None},
         |          open(d + "/.zarray", "w"))
         |def blosc_encode(raw):
         |    shuf = bitshuffle(raw, T)
         |    comp = zlib.compress(shuf, 5)
         |    payload = comp if len(comp) < len(raw) else shuf
         |    csize = len(payload) if len(comp) < len(raw) else len(raw)
         |    head = bytes([2, 1, 0x4 | (3 << 5), T])
         |    head += struct.pack("<iii", len(raw), len(raw), 16 + 4 + 4 + len(payload))
         |    head += struct.pack("<i", 20)
         |    return head + struct.pack("<i", csize) + payload
         |pad = np.zeros((cz, cy, cx), dtype="<u4")
         |for iz in range(-(-Z//cz)):
         |    for iy in range(-(-Y//cy)):
         |        for ix in range(-(-X//cx)):
         |            blk = pad.copy()
         |            z0, y0, x0 = iz*cz, iy*cy, ix*cx
         |            nz, ny, nx = min(cz, Z-z0), min(cy, Y-y0), min(cx, X-x0)
         |            blk[:nz, :ny, :nx] = arr[z0:z0+nz, y0:y0+ny, x0:x0+nx]
         |            open(f"{d}/{iz}.{iy}.{ix}", "wb").write(blosc_encode(blk.tobytes()))
         |print("PY_BITSHUF_WRITE_OK")
         |""".stripMargin
    assert(Process(Seq("python3", "-c", script)).!!.contains("PY_BITSHUF_WRITE_OK"))
    val back = ZarrStore.read(spark, dir)
    val got = back.toVoxels.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    for (z <- 0L until dz; y <- 0L until dy; x <- 0L until dx) {
      val id = (z * dy + y) * dx + x
      assert(got((z, y, x)) === (id * 13) % 251, s"voxel ($z,$y,$x)")
    }
  }

  // A larger volume whose full chunks (4·8·8 u4 = 1024 B, 256 elems) put
  // the lz4 family into c-blosc's SPLIT regime (typesize 4 ≤ 16,
  // blocksize/typesize = 256 ≥ 128).
  private val (lz, ly, lx) = (8L, 8L, 16L)
  private lazy val lvol = {
    val vox = spark.range(lz * ly * lx).selectExpr(
      s"id div ${ly * lx} as z",
      s"(id div $lx) % $ly as y",
      s"id % $lx as x",
      s"(id * 13) % 251 as label")
    ChunkVolume.fromVoxels(vox, lz, ly, lx, 4, 8, 8)
  }

  test("python (pure-python LZ4) independently decodes a blosc lz4 store with splits") {
    assume(havePython, "python3+numpy not available")
    val dir = Files.createTempDirectory("zarr_lz4").toString + "/l.zarr"
    ZarrStore.write(lvol, dir, ZarrStore.BloscCodec("lz4", 5, shuffle = 1))
    val script =
      s"""
         |import json, struct
         |import numpy as np
         |$pyLz4
         |$pySplit
         |d = "$dir"
         |za = json.load(open(d + "/.zarray"))
         |assert za["compressor"] == {"id": "blosc", "cname": "lz4", "clevel": 5,
         |                            "shuffle": 1, "blocksize": 0}, za["compressor"]
         |Z, Y, X = za["shape"]; cz, cy, cx = za["chunks"]
         |dt = np.dtype(za["dtype"]); T = dt.itemsize
         |saw_split = [False]
         |def blosc_decode(buf):
         |    ver, verlz, flags, tsize = buf[0], buf[1], buf[2], buf[3]
         |    nbytes, blocksize, cbytes = struct.unpack_from("<iii", buf, 4)
         |    assert tsize == T and flags & 0x1
         |    if flags & 0x2:
         |        return buf[16:16+nbytes]
         |    assert flags >> 5 == 1, "lz4 format expected"
         |    nblocks = max(1, -(-nbytes // blocksize))
         |    bstarts = struct.unpack_from("<%di" % nblocks, buf, 16)
         |    out = bytearray(nbytes)
         |    for b in range(nblocks):
         |        off = b * blocksize
         |        neb = min(blocksize, nbytes - off)
         |        ns = nsplits(1, T, blocksize, neb != blocksize)
         |        if ns > 1: saw_split[0] = True
         |        ne = neb // ns
         |        p = bstarts[b]
         |        plain = bytearray()
         |        for s in range(ns):
         |            csize = struct.unpack_from("<i", buf, p)[0]
         |            plain += buf[p+4:p+4+csize] if csize == ne else lz4_decompress(buf, p+4, ne)
         |            p += 4 + csize
         |        n = neb // T
         |        arr8 = np.frombuffer(bytes(plain[:n*T]), np.uint8).reshape(T, n)
         |        out[off:off+n*T] = arr8.T.tobytes()
         |        out[off+n*T:off+neb] = plain[n*T:]
         |    return bytes(out)
         |arr = np.zeros((Z, Y, X), dtype=dt)
         |for iz in range(-(-Z//cz)):
         |    for iy in range(-(-Y//cy)):
         |        for ix in range(-(-X//cx)):
         |            raw = blosc_decode(open(f"{d}/{iz}.{iy}.{ix}", "rb").read())
         |            blk = np.frombuffer(raw, dtype=dt).reshape(cz, cy, cx)
         |            z0, y0, x0 = iz*cz, iy*cy, ix*cx
         |            nz, ny, nx = min(cz, Z-z0), min(cy, Y-y0), min(cx, X-x0)
         |            arr[z0:z0+nz, y0:y0+ny, x0:x0+nx] = blk[:nz, :ny, :nx]
         |ids = np.arange(Z * Y * X).reshape(Z, Y, X)
         |assert (arr == (ids * 13) % 251).all(), "voxel mismatch"
         |assert saw_split[0], "expected split blocks in this regime"
         |print("PY_LZ4_OK")
         |""".stripMargin
    assert(Process(Seq("python3", "-c", script)).!!.contains("PY_LZ4_OK"))
  }

  test("ZarrStore reads a python-written blosc lz4 BITSHUFFLE container with splits") {
    assume(havePython, "python3+numpy not available")
    val dir = Files.createTempDirectory("zarr_lz42").toString + "/in.zarr"
    Files.createDirectories(Paths.get(dir))
    val script =
      s"""
         |import json, struct
         |import numpy as np
         |$pyBitshuffle
         |$pyLz4
         |$pySplit
         |d = "$dir"
         |Z, Y, X = $lz, $ly, $lx
         |cz, cy, cx = 4, 8, 8
         |T = 4
         |ids = np.arange(Z * Y * X).reshape(Z, Y, X)
         |arr = ((ids * 13) % 251).astype("<u4")
         |json.dump({"zarr_format": 2, "shape": [Z, Y, X], "chunks": [cz, cy, cx],
         |           "dtype": "<u4",
         |           "compressor": {"id": "blosc", "cname": "lz4", "clevel": 5,
         |                          "shuffle": 2, "blocksize": 0},
         |           "fill_value": 0, "order": "C", "filters": None},
         |          open(d + "/.zarray", "w"))
         |def blosc_encode(raw):
         |    shuf = bitshuffle(raw, T)
         |    ns = nsplits(1, T, len(raw), False)
         |    assert ns == T, "test volume must be in the split regime"
         |    ne = len(raw) // ns
         |    streams = []
         |    for s in range(ns):
         |        part = shuf[s*ne:(s+1)*ne]
         |        comp = lz4_compress(bytearray(part))
         |        if len(comp) < ne: streams.append((len(comp), comp))
         |        else: streams.append((ne, part))
         |    total = 16 + 4 + sum(4 + len(p) for _, p in streams)
         |    head = bytes([2, 1, 0x4 | (1 << 5), T])
         |    head += struct.pack("<iii", len(raw), len(raw), total)
         |    head += struct.pack("<i", 20)
         |    body = b"".join(struct.pack("<i", c) + bytes(p) for c, p in streams)
         |    return head + body
         |pad = np.zeros((cz, cy, cx), dtype="<u4")
         |for iz in range(-(-Z//cz)):
         |    for iy in range(-(-Y//cy)):
         |        for ix in range(-(-X//cx)):
         |            blk = pad.copy()
         |            z0, y0, x0 = iz*cz, iy*cy, ix*cx
         |            nz, ny, nx = min(cz, Z-z0), min(cy, Y-y0), min(cx, X-x0)
         |            blk[:nz, :ny, :nx] = arr[z0:z0+nz, y0:y0+ny, x0:x0+nx]
         |            open(f"{d}/{iz}.{iy}.{ix}", "wb").write(blosc_encode(blk.tobytes()))
         |print("PY_LZ4_WRITE_OK")
         |""".stripMargin
    assert(Process(Seq("python3", "-c", script)).!!.contains("PY_LZ4_WRITE_OK"))
    val back = ZarrStore.read(spark, dir)
    val got = back.toVoxels.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    for (z <- 0L until lz; y <- 0L until ly; x <- 0L until lx) {
      val id = (z * ly + y) * lx + x
      assert(got((z, y, x)) === (id * 13) % 251, s"voxel ($z,$y,$x)")
    }
  }

  test("ZarrStore reads python-written blosc lz4 AUTOSHUFFLE stores (shuffle=-1 in metadata)") {
    assume(havePython, "python3+numpy not available")
    // numcodecs serializes the CONFIGURED shuffle (-1) into .zarray and
    // resolves it per dtype at encode time: byte shuffle for typesize 4,
    // bitshuffle for typesize 1. The reader must take the mode from each
    // chunk's header flags, never from the metadata value.
    val dir4 = Files.createTempDirectory("zarr_lz4auto").toString + "/u4.zarr"
    val dir1 = Files.createTempDirectory("zarr_lz4auto").toString + "/u1.zarr"
    Files.createDirectories(Paths.get(dir4))
    Files.createDirectories(Paths.get(dir1))
    val script =
      s"""
         |import json, struct
         |import numpy as np
         |$pyBitshuffle
         |$pyLz4
         |$pySplit
         |Z, Y, X = $lz, $ly, $lx
         |cz, cy, cx = 4, 8, 8
         |ids = np.arange(Z * Y * X).reshape(Z, Y, X)
         |def byteshuffle(raw, T):
         |    return np.frombuffer(raw, np.uint8).reshape(-1, T).T.tobytes()
         |def blosc_encode(raw, T, shuf_mode):
         |    shuf = byteshuffle(raw, T) if shuf_mode == 1 else bitshuffle(raw, T)
         |    ns = nsplits(1, T, len(raw), False)
         |    ne = len(raw) // ns
         |    streams = []
         |    for s in range(ns):
         |        part = shuf[s*ne:(s+1)*ne]
         |        comp = lz4_compress(bytearray(part))
         |        if len(comp) < ne: streams.append((len(comp), comp))
         |        else: streams.append((ne, part))
         |    total = 16 + 4 + sum(4 + len(p) for _, p in streams)
         |    flags = (0x1 if shuf_mode == 1 else 0x4) | (1 << 5)
         |    head = bytes([2, 1, flags, T])
         |    head += struct.pack("<iii", len(raw), len(raw), total)
         |    head += struct.pack("<i", 20)
         |    return head + b"".join(struct.pack("<i", c) + bytes(p) for c, p in streams)
         |def write_store(d, dtype, T, shuf_mode):
         |    arr = ((ids * 13) % 251).astype(dtype)
         |    json.dump({"zarr_format": 2, "shape": [Z, Y, X], "chunks": [cz, cy, cx],
         |               "dtype": dtype,
         |               "compressor": {"id": "blosc", "cname": "lz4", "clevel": 5,
         |                              "shuffle": -1, "blocksize": 0},
         |               "fill_value": 0, "order": "C", "filters": None},
         |              open(d + "/.zarray", "w"))
         |    pad = np.zeros((cz, cy, cx), dtype=dtype)
         |    for iz in range(-(-Z//cz)):
         |        for iy in range(-(-Y//cy)):
         |            for ix in range(-(-X//cx)):
         |                blk = pad.copy()
         |                z0, y0, x0 = iz*cz, iy*cy, ix*cx
         |                nz, ny, nx = min(cz, Z-z0), min(cy, Y-y0), min(cx, X-x0)
         |                blk[:nz, :ny, :nx] = arr[z0:z0+nz, y0:y0+ny, x0:x0+nx]
         |                open(f"{d}/{iz}.{iy}.{ix}", "wb").write(
         |                    blosc_encode(blk.tobytes(), T, shuf_mode))
         |write_store("$dir4", "<u4", 4, 1)  # AUTOSHUFFLE @ typesize 4 -> byte shuffle
         |write_store("$dir1", "|u1", 1, 2)  # AUTOSHUFFLE @ typesize 1 -> bitshuffle
         |print("PY_AUTOSHUFFLE_WRITE_OK")
         |""".stripMargin
    assert(Process(Seq("python3", "-c", script)).!!.contains("PY_AUTOSHUFFLE_WRITE_OK"))
    for (dir <- Seq(dir4, dir1)) {
      val got = ZarrStore.read(spark, dir).toVoxels.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      for (z <- 0L until lz; y <- 0L until ly; x <- 0L until lx) {
        val id = (z * ly + y) * lx + x
        assert(got((z, y, x)) === (id * 13) % 251, s"voxel ($z,$y,$x) in $dir")
      }
    }
  }

  test("ZarrStore reads a python-written standalone-lz4 (length-header) array") {
    assume(havePython, "python3+numpy not available")
    val dir = Files.createTempDirectory("zarr_lz43").toString + "/in.zarr"
    Files.createDirectories(Paths.get(dir))
    val script =
      s"""
         |import json, struct
         |import numpy as np
         |$pyLz4
         |d = "$dir"
         |Z, Y, X = $dz, $dy, $dx
         |cz, cy, cx = 2, 3, 4
         |ids = np.arange(Z * Y * X).reshape(Z, Y, X)
         |arr = ((ids * 13) % 251).astype("<u4")
         |json.dump({"zarr_format": 2, "shape": [Z, Y, X], "chunks": [cz, cy, cx],
         |           "dtype": "<u4", "compressor": {"id": "lz4", "acceleration": 1},
         |           "fill_value": 0, "order": "C", "filters": None},
         |          open(d + "/.zarray", "w"))
         |pad = np.zeros((cz, cy, cx), dtype="<u4")
         |for iz in range(-(-Z//cz)):
         |    for iy in range(-(-Y//cy)):
         |        for ix in range(-(-X//cx)):
         |            blk = pad.copy()
         |            z0, y0, x0 = iz*cz, iy*cy, ix*cx
         |            nz, ny, nx = min(cz, Z-z0), min(cy, Y-y0), min(cx, X-x0)
         |            blk[:nz, :ny, :nx] = arr[z0:z0+nz, y0:y0+ny, x0:x0+nx]
         |            raw = blk.tobytes()
         |            open(f"{d}/{iz}.{iy}.{ix}", "wb").write(
         |                struct.pack("<i", len(raw)) + lz4_compress(bytearray(raw)))
         |print("PY_LZ4STD_WRITE_OK")
         |""".stripMargin
    assert(Process(Seq("python3", "-c", script)).!!.contains("PY_LZ4STD_WRITE_OK"))
    val back = ZarrStore.read(spark, dir)
    val got = back.toVoxels.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    for (z <- 0L until dz; y <- 0L until dy; x <- 0L until dx) {
      val id = (z * dy + y) * dx + x
      assert(got((z, y, x)) === (id * 13) % 251, s"voxel ($z,$y,$x)")
    }
  }

  test("openGroup + readLevel read a FOREIGN multiscales group (.zgroup/.zattrs layout)") {
    assume(havePython3, "python3 not available")
    val dest = genForeignGroup("plain")
    val g = PyramidWriter.openGroup(dest)
    assert(g.name === "labels")
    assert(g.levelPaths === Seq("0", "1"))
    assert(g.scalesZyx === Seq(Seq(25.0, 25.0, 25.0), Seq(50.0, 50.0, 50.0)))
    // level 1 = stride-2 decimation of the 16³ grid, resolved THROUGH the
    // multiscales dataset path — 512 voxels, every value checked
    val got = PyramidWriter.readLevel(spark, dest, 1).toVoxels.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got.size === 512)
    for (z <- 0L until 8L; y <- 0L until 8L; x <- 0L until 8L)
      assert(got((z, y, x)) === groupLabel(2 * z, 2 * y, 2 * x), s"voxel ($z,$y,$x)")
  }

  test("openGroup resolves a FOREIGN group through CONSOLIDATED .zmetadata alone") {
    assume(havePython3, "python3 not available")
    val dest = genForeignGroup("consolidated")
    // the fixture deliberately omits the loose group files: a reader that
    // quietly falls back to .zgroup/.zattrs would fail here
    assert(!Files.exists(Paths.get(dest, ".zgroup")))
    assert(!Files.exists(Paths.get(dest, ".zattrs")))
    val g = PyramidWriter.openGroup(dest)
    assert(g.levelPaths === Seq("0", "1"))
    // level 0 this time: the full 16³ grid, every voxel checked
    val got = PyramidWriter.readLevel(spark, dest, 0).toVoxels.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got.size === 4096)
    for (z <- 0L until 16L; y <- 0L until 16L; x <- 0L until 16L)
      assert(got((z, y, x)) === groupLabel(z, y, x), s"voxel ($z,$y,$x)")
    // a level outside the declared datasets is a named error, not a guess
    val e = intercept[IllegalArgumentException](PyramidWriter.readLevel(spark, dest, 2))
    assert(e.getMessage.contains("declares 2 levels"))
  }

  test("ZarrStore reads a python (numpy+zlib) written array bit-exactly") {
    assume(havePython, "python3+numpy not available")
    val dir = Files.createTempDirectory("zarr_py2").toString + "/in.zarr"
    Files.createDirectories(Paths.get(dir))
    // independent writer: same formula, big-endian dtype + an absent
    // chunk (0.0.0) to exercise fill_value semantics
    val script =
      s"""
         |import json, zlib
         |import numpy as np
         |d = "$dir"
         |Z, Y, X = $dz, $dy, $dx
         |cz, cy, cx = 2, 3, 4
         |ids = np.arange(Z * Y * X).reshape(Z, Y, X)
         |arr = ((ids * 13) % 251).astype(">u4")
         |json.dump({"zarr_format": 2, "shape": [Z, Y, X], "chunks": [cz, cy, cx],
         |           "dtype": ">u4", "compressor": {"id": "zlib", "level": 1},
         |           "fill_value": 0, "order": "C", "filters": None},
         |          open(d + "/.zarray", "w"))
         |for iz in range((Z + cz - 1) // cz):
         |    for iy in range((Y + cy - 1) // cy):
         |        for ix in range((X + cx - 1) // cx):
         |            if (iz, iy, ix) == (0, 0, 0):
         |                continue  # absent chunk = fill_value
         |            blk = np.zeros((cz, cy, cx), dtype=">u4")
         |            z0, y0, x0 = iz * cz, iy * cy, ix * cx
         |            nz, ny, nx = min(cz, Z - z0), min(cy, Y - y0), min(cx, X - x0)
         |            blk[:nz, :ny, :nx] = arr[z0:z0+nz, y0:y0+ny, x0:x0+nx]
         |            open(f"{d}/{iz}.{iy}.{ix}", "wb").write(zlib.compress(blk.tobytes(), 1))
         |print("PY_WRITE_OK")
         |""".stripMargin
    assert(Process(Seq("python3", "-c", script)).!!.contains("PY_WRITE_OK"))
    val back = ZarrStore.read(spark, dir)
    assert(back.meta.elementType === "MET_UINT")
    val got = back.toVoxels.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    for (z <- 0L until dz; y <- 0L until dy; x <- 0L until dx) {
      val id = (z * dy + y) * dx + x
      val expect = if (z < 2 && y < 3 && x < 4) 0L else (id * 13) % 251
      assert(got((z, y, x)) === expect, s"voxel ($z,$y,$x)")
    }
  }
}
