package graft.sources

import graft.io.{Fio, FioConf, FioRandom}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, Inflater}

/** WARC/1.0 ingestion (ISO 28500 framing over the Common Crawl
  * `.warc.gz` member-per-record convention) — the intake stage of a web
  * curation pipeline, feeding HtmlExtract → quality → dedup → mix.
  *
  * All file access routes through the Hadoop FileSystem facade
  * (graft.io.Fio), so the same intake runs against `file://`, `hdfs://`
  * and object-store URIs; positioned member reads become ranged GETs.
  *
  * Scale shapes, in preference order:
  *   - WITH a member-offset sidecar (`<file>.idx`, one byte offset per
  *     line — the cdx-index shape every production crawl ships):
  *     executors take contiguous offset RANGES and positioned-read +
  *     inflate ONLY their members. Parallelism WITHIN a file; a 1 GiB
  *     crawl file fans out across the cluster without any task reading
  *     bytes it does not own.
  *   - WITHOUT a sidecar: gzip members are not self-delimiting from the
  *     outside (member length is only discoverable by inflating), so the
  *     file is one sequential task streaming records in order — the
  *     classic one-task-per-warc-file shape (a real crawl has tens of
  *     thousands of files, so cluster parallelism comes from the file
  *     count). [[buildIndex]]/[[writeIndexSidecar]] bootstrap the sidecar
  *     with one such sequential pass.
  *   - A CORPUS ([[readFiles]]/[[readDir]]): indexed files fan out by
  *     member span, sidecar-less files run one sequential task each, in
  *     ONE DataFrame — the multi-file snapshot shape.
  *
  * Output row per record: (warc_type, url, http_status, content_type,
  * body, member_offset). `body` is the HTTP payload body for response
  * records (headers stripped), the raw WARC payload otherwise.
  */
object WarcSource {

  /** Read a `.warc.gz`: indexed-split when `<path>.idx` exists,
    * sequential single-task otherwise.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    implicit val fc: FioConf = FioConf.of(spark)
    sidecarOffsets(path) match {
      case Some(offsets) => readIndexed(spark, path, offsets)
      case None => readSequential(spark, Seq(path))
    }
  }

  private def sidecarOffsets(path: String)(implicit fc: FioConf): Option[Seq[Long]] =
    Fio.readStringIfExists(path + ".idx").map { body =>
      body.split("\n", -1).iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    }

  /** Indexed-split read: offsets come from the sidecar (or
    * [[buildIndex]]); each task positioned-reads and inflates only its
    * own members.
    */
  def readIndexed(spark: SparkSession, path: String, offsets: Seq[Long]): DataFrame = {
    implicit val fc: FioConf = FioConf.of(spark)
    readSpans(spark, memberSpans(path, offsets))
  }

  /** Validate a sidecar's offsets against the file and derive per-member
    * (path, offset, end) spans (ends from the next offset).
    */
  private def memberSpans(path: String, offsets: Seq[Long])(
      implicit fc: FioConf): Seq[(String, Long, Long)] = {
    val fileLen = Fio.size(path)
    val sorted = offsets.sorted
    require(sorted.headOption.forall(_ == 0L),
      s"$path.idx: first member offset must be 0, got ${sorted.headOption}")
    require(sorted.forall(o => o >= 0 && o < fileLen),
      s"$path.idx: member offsets outside the $fileLen-byte file")
    require(sorted.distinct.size == sorted.size,
      s"$path.idx: duplicate member offsets")
    sorted.zip(sorted.drop(1) :+ fileLen).map { case (off, end) => (path, off, end) }
  }

  /** Positioned-read + inflate a set of (path, off, end) member spans —
    * the executor kernel shared by single-file and multi-file indexed
    * reads. Each task reads through one [[Fio.taskRandom]] handle,
    * reopened per distinct path (spans arrive grouped by file within a
    * partition in practice).
    */
  private def readSpans(spark: SparkSession, spans: Seq[(String, Long, Long)]): DataFrame = {
    implicit val fc: FioConf = FioConf.of(spark)
    import spark.implicits._
    val df = spark.createDataset(spans)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val file = Fio.taskRandom()
        it.map { case (path, off, end) =>
          // members over ~1 GiB are unconventional but legal; fail loud
          // rather than silently wrapping the buffer size negative
          require(end - off <= Int.MaxValue,
            s"$path: member at $off spans ${end - off} bytes — beyond the 2 GiB single-member buffer")
          val comp = file(path).readAt(off, (end - off).toInt)
          val rec = parseRecord(inflateMember(comp, path, off), path, off)
          (rec.warcType, rec.url, rec.httpStatus, rec.contentType, rec.body, off)
        }
      }
    df.toDF("warc_type", "url", "http_status", "content_type", "body", "member_offset")
  }

  /** Sequential read: one task per FILE streams its members in order
    * (GZIPInputStream consumes concatenated members transparently;
    * records are re-delimited from their own Content-Length framing).
    */
  def readSequential(spark: SparkSession, paths: Seq[String]): DataFrame = {
    implicit val fc: FioConf = FioConf.of(spark)
    import spark.implicits._
    val df = spark.createDataset(paths)
      .repartition(math.max(1, paths.length))
      .flatMap { p =>
        val in = new GZIPInputStream(
          new java.io.BufferedInputStream(Fio.openStream(p), 1 << 16), 1 << 16)
        Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
          try in.close() catch { case _: java.io.IOException => () }
        })
        Iterator.continually(readRecordBytes(in, p))
          .takeWhile(_ != null)
          .map { bytes =>
            val rec = parseRecord(bytes, p, -1L)
            (rec.warcType, rec.url, rec.httpStatus, rec.contentType, rec.body, -1L)
          }
      }
    df.toDF("warc_type", "url", "http_status", "content_type", "body", "member_offset")
  }

  /** A CORPUS of `.warc.gz`/`.wet.gz` files as one DataFrame: files with
    * a `.idx` sidecar fan out by member span (parallelism WITHIN the
    * file), sidecar-less files run one sequential task each — so a
    * mixed snapshot reads at the best shape each file supports, and
    * total tasks ≥ total files.
    */
  def readFiles(spark: SparkSession, paths: Seq[String]): DataFrame = {
    implicit val fc: FioConf = FioConf.of(spark)
    require(paths.nonEmpty, "readFiles: empty file list")
    val (indexed, plain) = paths.partition(p => Fio.exists(p + ".idx"))
    val spans = indexed.flatMap(p => memberSpans(p, sidecarOffsets(p).get))
    val parts = Seq(
      if (spans.nonEmpty) Some(readSpans(spark, spans)) else None,
      if (plain.nonEmpty) Some(readSequential(spark, plain)) else None,
    ).flatten
    parts.reduce(_ unionAll _)
  }

  /** All records of one in-memory `.warc.gz` (the STREAMING intake unit:
    * the binaryFile stream source delivers whole files as byte arrays).
    */
  private[graft] def parseAllMembers(bytes: Array[Byte], name: String): Seq[Rec] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes), 1 << 16)
    try Iterator.continually(readRecordBytes(in, name))
      .takeWhile(_ != null)
      .map(parseRecord(_, name, -1L))
      .toSeq
    finally in.close()
  }

  /** STREAMING intake over a directory of `.warc.gz` files: Structured
    * Streaming's binaryFile source tracks file arrivals exactly-once,
    * each micro-batch parses its new files' records — the incremental
    * crawl-ingest shape (a crawler keeps dropping finished warc files;
    * the pipeline keeps up without re-reading old ones). One file is one
    * row from the source, so per-file memory is the file size — the
    * intake unit a crawler emits (≤ ~1 GiB by convention).
    */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.warc.gz")
      // streaming sources require the schema up front — binaryFile's is
      // fixed by the format
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        parseAllMembers(bytes, path).map(r =>
          (r.warcType, r.url, r.httpStatus, r.contentType, r.body, -1L))
      }
      .toDF("warc_type", "url", "http_status", "content_type", "body", "member_offset")
  }

  /** STREAMING intake over INDEXED SPLITS: one huge landed `.warc.gz`
    * micro-batches incrementally instead of arriving as one whole-file
    * unit. The arrival convention is the immutable-manifest shape
    * Structured Streaming's file sources track natively: as a producer
    * lands member ranges of `<name>.warc.gz`, it publishes
    * `<name>.warc.gz.ranges/<seq>.idx` manifests, each line one member's
    * `<offset> <end>` span. Manifests are append-only as FILES (each is
    * written once and never modified), so the text file source gives
    * exactly-once per manifest; tasks then positioned-read ONLY the
    * members their manifests name — whole-file size never bounds
    * micro-batch memory. [[writeRangeManifest]] publishes one manifest
    * atomically.
    */
  def readStreamIndexed(spark: SparkSession, dir: String): DataFrame = {
    implicit val fc: FioConf = FioConf.of(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    spark.readStream.format("text")
      .option("pathGlobFilter", "*.idx")
      .schema(org.apache.spark.sql.types.StructType.fromDDL("value STRING"))
      .load(dir + "/*.warc.gz.ranges")
      .select(col("value"), input_file_name().as("manifest"))
      .as[(String, String)]
      .mapPartitions { it =>
        val file = Fio.taskRandom()
        it.filter(_._1.trim.nonEmpty).map { case (line, manifest) =>
          val cut = manifest.lastIndexOf(".ranges/")
          require(cut > 0, s"range manifest $manifest is not under a <file>.warc.gz.ranges/ directory")
          val path = manifest.substring(0, cut)
          val parts = line.trim.split("\\s+")
          require(parts.length == 2,
            s"$manifest: malformed range line '$line' (want '<offset> <end>')")
          val (off, end) = (parts(0).toLong, parts(1).toLong)
          require(end > off && end - off <= Int.MaxValue,
            s"$path: manifest range [$off, $end) is empty or beyond the 2 GiB member buffer")
          val comp = file(path).readAt(off, (end - off).toInt)
          val rec = parseRecord(inflateMember(comp, path, off), path, off)
          (rec.warcType, rec.url, rec.httpStatus, rec.contentType, rec.body, off)
        }
      }
      .toDF("warc_type", "url", "http_status", "content_type", "body", "member_offset")
  }

  /** Publish one immutable range manifest for [[readStreamIndexed]]:
    * member spans [off, end) of `warcPath`, written to a temp name and
    * renamed into `<warcPath>.ranges/<seq>.idx` so the streaming source
    * can never observe a half-written manifest.
    */
  def writeRangeManifest(warcPath: String, seq: Long, spans: Seq[(Long, Long)])(
      implicit fc: FioConf): Unit = {
    val dir = warcPath + ".ranges"
    Fio.mkdirs(dir)
    val tmp = Fio.child(dir, f".$seq%06d.idx.tmp")
    Fio.writeString(tmp, spans.map { case (o, e) => s"$o $e" }.mkString("", "\n", "\n"))
    val dst = Fio.child(dir, f"$seq%06d.idx")
    require(Fio.rename(tmp, dst), s"manifest publish failed: $dst")
  }

  /** All `.warc.gz`/`.wet.gz` files of a directory as one frame, at the
    * best shape each file supports (see [[readFiles]]).
    */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    implicit val fc: FioConf = FioConf.of(spark)
    val files = Fio.listNames(dir)
      .filter(p => p.endsWith(".warc.gz") || p.endsWith(".wet.gz"))
      .sorted.map(Fio.child(dir, _))
    require(files.nonEmpty, s"$dir holds no .warc.gz/.wet.gz files")
    readFiles(spark, files)
  }

  /** EXPORT a curated corpus as WET: each partition writes one
    * `part-<id>.wet.gz` of 'conversion' records (one gzip member per
    * record, ISO 28500 framing, text/plain payloads) plus the
    * member-offset sidecar — the form a curation pipeline hands back to
    * the crawl ecosystem. Executors write independently; file count =
    * partition count (repartition upstream to choose it). Rows:
    * (url STRING, text STRING).
    *
    * Task-commit discipline: each attempt writes ATTEMPT-UNIQUE hidden
    * temp files (`.part-NNNNN.*.tmp-<attempt>`) and renames them into
    * place only after both the data and its sidecar are fully written —
    * so a speculative or retried attempt can never interleave bytes into
    * a live part file, concurrent attempts resolve last-rename-wins with
    * each rename atomic, and a failed job leaves only dot-hidden temp
    * files that [[readDir]]'s suffix filter never picks up.
    */
  def writeWet(pages: DataFrame, dir: String): Unit = {
    implicit val fc: FioConf = FioConf.of(pages.sparkSession)
    val outStr = Fio.qualify(dir)
    Fio.mkdirs(outStr)
    pages.select("url", "text").foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
      val ctx = Option(org.apache.spark.TaskContext.get())
      val pid = ctx.map(_.partitionId()).getOrElse(0)
      val attempt = ctx.map(_.taskAttemptId()).getOrElse(0L)
      val dataName = f"part-$pid%05d.wet.gz"
      val tmpData = Fio.child(outStr, f".$dataName.tmp-$attempt")
      val tmpIdx = Fio.child(outStr, f".$dataName.idx.tmp-$attempt")
      var pos = 0L
      val offsets = Seq.newBuilder[Long]
      val fos = Fio.createStream(tmpData)
      try {
        def member(bytes: Array[Byte]): Unit = {
          val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
          val gz = new java.util.zip.GZIPOutputStream(bos, 1 << 16)
          gz.write(bytes)
          gz.close()
          val blob = bos.toByteArray
          offsets += pos
          fos.write(blob)
          pos += blob.length
        }
        def record(warcType: String, headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
          val sb = new StringBuilder("WARC/1.0\r\n")
          sb.append("WARC-Type: ").append(warcType).append("\r\n")
          headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
          sb.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
          val head = sb.toString.getBytes(StandardCharsets.UTF_8)
          val all = new Array[Byte](head.length + payload.length + 4)
          System.arraycopy(head, 0, all, 0, head.length)
          System.arraycopy(payload, 0, all, head.length, payload.length)
          all(all.length - 4) = '\r'; all(all.length - 3) = '\n'
          all(all.length - 2) = '\r'; all(all.length - 1) = '\n'
          all
        }
        // deterministic metadata: a WET export is a pure function of its
        // corpus (no wall clock, no RNG) so re-exports are byte-stable
        val date = "2026-01-01T00:00:00Z"
        member(record("warcinfo", Seq(
          "WARC-Date" -> date,
          "WARC-Record-ID" -> f"<urn:uuid:wetinfo-$pid%012d>",
          "Content-Type" -> "application/warc-fields",
        ), "software: graft WarcSource.writeWet\r\nformat: WARC File Format 1.0\r\n"
          .getBytes(StandardCharsets.UTF_8)))
        it.foreach { row =>
          val url = row.getString(0)
          val text = row.getString(1)
          member(record("conversion", Seq(
            "WARC-Date" -> date,
            "WARC-Record-ID" -> s"<urn:uuid:wet-${java.lang.Long.toHexString(
              org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes2(
                url.getBytes(StandardCharsets.UTF_8),
                org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                url.getBytes(StandardCharsets.UTF_8).length, 42).toLong & 0xffffffffL)}>",
            "WARC-Target-URI" -> url,
            "Content-Type" -> "text/plain",
          ), text.getBytes(StandardCharsets.UTF_8)))
        }
      } finally fos.close()
      Fio.writeString(tmpIdx, offsets.result().mkString("", "\n", "\n"))
      // commit: data first, then the sidecar that describes it — each an
      // atomic rename; a reader never sees a sidecar without its data
      val dstData = Fio.child(outStr, dataName)
      val dstIdx = Fio.child(outStr, dataName + ".idx")
      Fio.renameOverwrite(tmpData, dstData)
      Fio.renameOverwrite(tmpIdx, dstIdx)
      ()
    }
  }

  /** Member byte offsets of a `.warc.gz`, by one sequential pass that
    * parses each gzip member's header and inflates (discarding output)
    * to find its end — the sidecar bootstrap. O(file) decompression
    * once, after which every read splits.
    */
  def buildIndex(path: String)(implicit fc: FioConf): Seq[Long] = {
    val raf = Fio.openRandom(path)
    try {
      val len = raf.size
      val offsets = Seq.newBuilder[Long]
      var pos = 0L
      while (pos < len) {
        offsets += pos
        pos = memberEnd(raf, pos, len, path)
      }
      offsets.result()
    } finally raf.close()
  }

  def writeIndexSidecar(path: String)(implicit fc: FioConf): Unit =
    Fio.writeString(path + ".idx", buildIndex(path).mkString("", "\n", "\n"))

  // ------------------------------------------------------------------

  private[sources] final case class Rec(
      warcType: String, url: String, httpStatus: Int, contentType: String, body: String)

  /** End offset (exclusive) of the gzip member starting at `pos`:
    * header parse (FEXTRA/FNAME/FCOMMENT/FHCRC per RFC 1952) + inflate
    * to stream end + the 8-byte CRC/ISIZE trailer. Header-field scans
    * are BOUNDED by the probe window, so a malformed or hostile header
    * fails with a named error instead of an array overrun.
    */
  private def memberEnd(raf: FioRandom, pos: Long, len: Long, path: String): Long = {
    val head = raf.readAt(pos, math.min(1L << 16, len - pos).toInt)
    require(head.length >= 10 && (head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b,
      s"$path: no gzip magic at member offset $pos")
    require(head(2) == 8, s"$path: unsupported gzip method ${head(2)} at $pos")
    val flg = head(3) & 0xff
    def at(i: Int): Int = {
      require(i < head.length,
        s"$path: gzip member header at offset $pos overruns the ${head.length}-byte probe " +
          "window — header fields exceed 64 KiB or the framing is corrupt")
      head(i) & 0xff
    }
    var h = 10
    if ((flg & 4) != 0) { // FEXTRA: xlen validated against the window
      val xlen = at(h) | (at(h + 1) << 8)
      h += 2 + xlen
      require(h <= head.length,
        s"$path: gzip FEXTRA of $xlen bytes at offset $pos overruns the probe window")
    }
    if ((flg & 8) != 0) { while (at(h) != 0) h += 1; h += 1 } // FNAME
    if ((flg & 16) != 0) { while (at(h) != 0) h += 1; h += 1 } // FCOMMENT
    if ((flg & 2) != 0) { h += 2; require(h <= head.length, s"$path: gzip FHCRC at $pos overruns the probe window") }
    require(h < head.length, s"$path: gzip member at $pos has a header but no deflate data in the probe window")
    val inf = new Inflater(true)
    val out = new Array[Byte](1 << 16)
    inf.setInput(head, h, head.length - h)
    var fed = head.length.toLong // bytes of this member handed to the inflater
    val chunk = new Array[Byte](1 << 16)
    while (!inf.finished()) {
      if (inf.needsInput()) {
        val want = math.min(chunk.length.toLong, len - (pos + fed)).toInt
        require(want > 0, s"$path: truncated gzip member at offset $pos")
        raf.readFully(pos + fed, chunk, 0, want)
        inf.setInput(chunk, 0, want)
        fed += want
      }
      inf.inflate(out) // output discarded — only the length matters
    }
    val consumed = h + inf.getBytesRead
    inf.end()
    val end = pos + consumed + 8 // CRC32 + ISIZE trailer
    require(end <= len, s"$path: member at $pos overruns the file")
    end
  }

  /** Inflate ONE whole gzip member (the indexed-read unit). */
  private def inflateMember(comp: Array[Byte], path: String, off: Long): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(comp), 1 << 16)
    try {
      val bos = new java.io.ByteArrayOutputStream(comp.length * 4)
      val buf = new Array[Byte](1 << 16)
      var r = in.read(buf)
      while (r >= 0) { bos.write(buf, 0, r); r = in.read(buf) }
      bos.toByteArray
    } catch {
      case e: java.io.IOException => throw new IllegalStateException(
        s"$path: gzip member at offset $off failed to inflate: ${e.getMessage}", e)
    } finally in.close()
  }

  /** Read one WARC record's bytes from a continuous decompressed stream
    * (header block + Content-Length payload + the \r\n\r\n separator),
    * or null at EOF.
    */
  private def readRecordBytes(in: java.io.InputStream, path: String): Array[Byte] = {
    val head = new java.io.ByteArrayOutputStream(512)
    // read byte-wise until \r\n\r\n (header block end); EOF before any
    // byte means clean end of file
    var state = 0
    var first = in.read()
    if (first < 0) return null
    head.write(first)
    while (state != 4) {
      val b = in.read()
      require(b >= 0, s"$path: EOF inside a WARC header block")
      require(head.size() < (1 << 20),
        s"$path: WARC header block exceeds 1 MiB with no terminator — not WARC framing")
      head.write(b)
      state = (state, b) match {
        case (0, '\r') => 1
        case (1, '\n') => 2
        case (2, '\r') => 3
        case (3, '\n') => 4
        case (_, '\r') => 1
        case _ => 0
      }
    }
    val headBytes = head.toByteArray
    val headStr = new String(headBytes, StandardCharsets.UTF_8)
    val clen = headStr.linesIterator
      .find(_.toLowerCase.startsWith("content-length:"))
      .map(_.split(":", 2)(1).trim.toLong)
      .getOrElse(sys.error(s"$path: WARC record without Content-Length"))
    require(clen >= 0 && clen <= Int.MaxValue - headBytes.length - 4,
      s"$path: WARC record declares a $clen-byte payload — outside the single-record limit")
    val payload = new Array[Byte](clen.toInt)
    var got = 0
    while (got < clen) {
      val r = in.read(payload, got, clen.toInt - got)
      require(r >= 0, s"$path: EOF inside a WARC payload ($got of $clen bytes)")
      got += r
    }
    // the two CRLF separating records
    val sep = new Array[Byte](4)
    var s = 0
    while (s < 4) {
      val r = in.read(sep, s, 4 - s)
      require(r >= 0, s"$path: EOF inside the record separator")
      s += r
    }
    require(new String(sep, StandardCharsets.US_ASCII) == "\r\n\r\n",
      s"$path: bad record separator after a $clen-byte payload")
    val all = new Array[Byte](headBytes.length + payload.length)
    System.arraycopy(headBytes, 0, all, 0, headBytes.length)
    System.arraycopy(payload, 0, all, headBytes.length, payload.length)
    all
  }

  /** Parse one record's bytes (WARC header block + payload). */
  private[sources] def parseRecord(bytes: Array[Byte], path: String, off: Long): Rec = {
    val sepIdx = indexOfCrlfCrlf(bytes, 0)
    require(sepIdx >= 0, s"$path: record at $off has no header/payload separator")
    val headStr = new String(bytes, 0, sepIdx, StandardCharsets.UTF_8)
    val lines = headStr.split("\r\n")
    require(lines.headOption.exists(_.startsWith("WARC/")),
      s"$path: record at $off does not start with a WARC version line " +
        s"(got '${lines.headOption.getOrElse("")}')")
    val headers = lines.tail.flatMap { l =>
      val i = l.indexOf(':')
      if (i < 0) None else Some(l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim)
    }.toMap
    val warcType = headers.getOrElse("warc-type",
      sys.error(s"$path: record at $off missing WARC-Type"))
    val clen = headers.get("content-length").map(_.toInt)
      .getOrElse(sys.error(s"$path: record at $off missing Content-Length"))
    require(clen >= 0, s"$path: record at $off declares a negative Content-Length $clen")
    val payloadStart = sepIdx + 4
    require(payloadStart + clen <= bytes.length,
      s"$path: record at $off truncated (declared $clen payload bytes)")
    val url = headers.getOrElse("warc-target-uri", "")
    if (warcType == "response" && headers.getOrElse("content-type", "").startsWith("application/http")) {
      // payload is an HTTP response: status line + headers + body
      val bodyIdx = indexOfCrlfCrlf(bytes, payloadStart)
      require(bodyIdx >= 0 && bodyIdx < payloadStart + clen,
        s"$path: response record at $off has no HTTP header/body separator")
      val statusLine = new String(bytes, payloadStart,
        math.min(64, bodyIdx - payloadStart), StandardCharsets.US_ASCII)
      val status = statusLine.split(" ").lift(1).flatMap(_.toIntOption).getOrElse(0)
      val body = new String(bytes, bodyIdx + 4, payloadStart + clen - (bodyIdx + 4),
        StandardCharsets.UTF_8)
      Rec(warcType, url, status, headers.getOrElse("content-type", ""), body)
    } else {
      val body = new String(bytes, payloadStart, clen, StandardCharsets.UTF_8)
      Rec(warcType, url, 0, headers.getOrElse("content-type", ""), body)
    }
  }

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }
}
