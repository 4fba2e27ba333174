package graft.queries

import graft.{Q, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.operators.Mixing
import graft.similarity.Ann
import graft.streaming.EventStreams
import graft.text.{Bpe, ByteBpe, QualityTrainer, TextAnalysis}

/** Training-data-pipeline queries over the `documents` and `embeddings`
  * tables: deduplication (exact, MinHash+LSH, SimHash, token Jaccard),
  * similarity search, text analysis, fingerprinting, multimodal features,
  * and the batch face of the streaming surface.
  *
  * Oracle strategy for hash-based LSH ops: xxhash64 is not expressible in
  * DuckDB, so those queries run the standard two-phase pipeline — LSH
  * candidate generation followed by EXACT verification — on a corpus with
  * injected duplicates. LSH recall at similarity 1.0 is exactly 1 (identical
  * inputs hash to identical signatures/bands), so the verified output is a
  * deterministic set DuckDB can compute independently of the hash functions.
  */
object DocQueries {

  /** Offset for the injected duplicate copy of the corpus. */
  private val DupOffset = 1000000L

  /** One `.warc.gz` + sidecar index per (JVM, sfDir), wrapping THAT
    * scale's documents corpus — written by tools/gen_warc_fixture.py,
    * the independent python WARC encoder (never inside a timed query
    * body: the once-per-JVM subprocess discipline of the TIFF/zarr
    * fixtures).
    */
  /** Skew-adversarial Jaccard corpus (shared by doc_jaccard_skewed and
    * its boundedness gate): every doc carries a universal `stopterm`,
    * 30% carry a `hotshingle`, every doc carries a near-unique `mkN`
    * marker, and every 10th doc has a near-copy (text + ` extrazz`)
    * sharing its base's marker — the ONE rare term that lets the capped
    * candidate generation surface the injected pairs while the hot
    * terms stay df-capped out.
    */
  private def skewedJaccardCorpus(s: SparkSession, d: String): DataFrame = {
    val base = T(s, d, "documents").select(col("doc_id"), col("lang"), col("text"))
    val copies = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + DupOffset).as("doc_id"), col("lang"),
        concat(col("text"), lit(" extrazz")).as("text"))
    base.unionByName(copies)
      .withColumn("text", concat(
        col("text"),
        lit(" mk"), (col("doc_id") % DupOffset).cast("string"),
        when(col("doc_id") % 10 < 3, lit(" hotshingle")).otherwise(lit("")),
        lit(" stopterm")))
  }

  /** The same corpus as one SQL CTE named `corpus`. */
  private val skewedJaccardCorpusSql: String = s"""corpus AS (
      SELECT doc_id, lang,
             text || ' mk' || doc_id ||
             CASE WHEN doc_id % 10 < 3 THEN ' hotshingle' ELSE '' END ||
             ' stopterm' AS text
      FROM documents
      UNION ALL
      SELECT doc_id + $DupOffset, lang,
             text || ' extrazz mk' || doc_id || ' hotshingle stopterm' AS text
      FROM documents WHERE doc_id % 10 = 0
    )"""

  private val warcCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def warcGen(d: String, wet: Boolean): String =
    warcCache.computeIfAbsent(s"$d#wet=$wet", { _ =>
      val gen = java.nio.file.Paths.get("tools/gen_warc_fixture.py")
      require(java.nio.file.Files.exists(gen),
        s"fixture generator not found at ${gen.toAbsolutePath}")
      val out = java.nio.file.Files.createTempDirectory("graft_warc")
      out.toFile.deleteOnExit()
      val name = if (wet) "crawl.wet.gz" else "crawl.warc.gz"
      val p = out.resolve(name).toString
      val cmd = Seq("python3", gen.toString, p, d) ++ (if (wet) Seq("--wet") else Nil)
      val rc = scala.sys.process.Process(cmd)
        .!(scala.sys.process.ProcessLogger(_ => ()))
      require(rc == 0, s"gen_warc_fixture.py exited $rc")
      p
    })
  private def warcFixture(d: String): String = warcGen(d, wet = false)

  /** Range-manifest arrival fixture for the INDEXED STREAMING intake: the
    * corpus WARC copied beside TWO immutable `.ranges/<seq>.idx`
    * manifests that together cover every member span — the
    * "huge landed file published incrementally" convention
    * [[graft.sources.WarcSource.readStreamIndexed]] consumes. Returns
    * the directory the stream watches.
    */
  private def warcManifestFixture(d: String): String =
    warcCache.computeIfAbsent(s"$d#manifest", { _ =>
      implicit val fc: graft.io.FioConf = graft.io.FioConf.default
      val src = warcFixture(d)
      val out = java.nio.file.Files.createTempDirectory("graft_warcmanifest")
      out.toFile.deleteOnExit()
      val warc = out.resolve("crawl.warc.gz").toString
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(src), java.nio.file.Paths.get(warc))
      val offsets = graft.sources.WarcSource.buildIndex(warc)
      val spans = offsets.zip(offsets.drop(1) :+ graft.io.Fio.size(warc))
      val (a, b) = spans.splitAt(spans.length / 2)
      graft.sources.WarcSource.writeRangeManifest(warc, 0L, a)
      graft.sources.WarcSource.writeRangeManifest(warc, 1L, b)
      out.toString
    })
  private def wetFixture(d: String): String = warcGen(d, wet = true)

  /** Multi-file crawl snapshot: THREE foreign `.warc.gz` shards
    * (doc_id % 3) of the same corpus, shard 1 deliberately WITHOUT its
    * `.idx` sidecar — so the directory intake must mix indexed-split
    * reads (parallelism within the file) and sequential per-file tasks
    * over one corpus. Returns the directory.
    */
  private def warcMultiFixture(d: String): String =
    warcCache.computeIfAbsent(s"$d#multi", { _ =>
      val gen = java.nio.file.Paths.get("tools/gen_warc_fixture.py")
      require(java.nio.file.Files.exists(gen),
        s"fixture generator not found at ${gen.toAbsolutePath}")
      val out = java.nio.file.Files.createTempDirectory("graft_warcmulti")
      out.toFile.deleteOnExit()
      val p = out.resolve("crawl.warc.gz").toString
      val cmd = Seq("python3", gen.toString, p, d, "--shards", "3")
      val rc = scala.sys.process.Process(cmd)
        .!(scala.sys.process.ProcessLogger(_ => ()))
      require(rc == 0, s"gen_warc_fixture.py --shards 3 exited $rc")
      out.toString
    })

  /** One WET-export destination per JVM (files overwritten in place —
    * partition count is fixed, so reps rewrite the same part files).
    */
  private lazy val wetExportDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_wetout")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Merge-table size for the TRAINING-replay gate (doc_bpe_tokens):
    * mid-table for this corpus (training exhausts at ~89 merges on the
    * sf0.01 vocabulary), so the gate exercises both early high-count
    * merges and compound merges of already-merged symbols. The oracle
    * unrolls exactly this many training stages, so the constant must
    * match on both sides. The token-denominated operators (budget/pack/
    * chunk) are denominated in the FROZEN 4096-merge byte-level
    * tokenizer instead (ByteBpe; gated by doc_bpe_tokens_v2 and the
    * _bpe trio's frozen-replay oracles).
    */
  private val BpeMerges = 48

  /** documents ∪ an exact copy shifted by DupOffset: every text appears
    * exactly twice, giving the dedup ops real duplicates to find.
    */
  private def dupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + DupOffset))
  }

  private val dupCorpusSql =
    s"(SELECT doc_id, text, lang, source, n_chars FROM documents UNION ALL SELECT doc_id + $DupOffset, text, lang, source, n_chars FROM documents)"

  /** documents ∪ one synthetic doc whose words force BACK-TO-BACK
    * occurrences of early merges through the trained-BPE gate: 'ererer'
    * hits merge #1 (e,r) at three adjacent positions, 'inin'/'stst' hit
    * other top-5 merges adjacently, 'banana' is the canonical adjacent
    * (a,n) shape. Under the old single-separator oracle framing DuckDB's
    * replace() merged only the FIRST of back-to-back occurrences (the
    * shared separator was consumed) — the corpus vocabulary never
    * produced the case, so the gate couldn't see the divergence. This
    * injection makes the open/close framing ([[Bpe.oracleStages]]) a
    * gated property, not an audited one.
    */
  private val BpeFixtureDocId = 2000000L
  private val BpeFixtureText = "banana banana ererer ererer inin inin stst stst"

  private def bpeGateCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    docs.unionByName(docs.sparkSession.range(1).select(
      lit(BpeFixtureDocId).as("doc_id"),
      lit(BpeFixtureText).as("text"),
      lit("en").as("lang"),
      lit("src0").as("source"),
      lit(BpeFixtureText.length.toLong).as("n_chars")))
  }

  private val bpeGateCorpusSql =
    s"(SELECT doc_id, text, lang, source, n_chars FROM documents " +
      s"UNION ALL SELECT $BpeFixtureDocId, '$BpeFixtureText', 'en', 'src0', ${BpeFixtureText.length})"

  /** documents ∪ one synthetic doc exercising every byte-level-tokenizer
    * edge the plain corpus lacks: apostrophes and punctuation runs (the
    * regex pre-tokenizer's ` ?punct-run` branch), digit runs, non-ASCII
    * (multi-byte UTF-8 → multiple base symbols), double spaces (a
    * whitespace-run pre-token), mixed alphanumerics, and repeated-letter
    * words that force back-to-back merge applications through the
    * open/close-framed oracle replay.
    */
  private val ByteBpeFixtureDocId = 3000000L
  private val ByteBpeFixtureText =
    "Don't stop -- really!? 12345 007 café naïve  double  spaced banana aaaa it's (quoted) x2y2"

  private def byteBpeGateCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    docs.unionByName(docs.sparkSession.range(1).select(
      lit(ByteBpeFixtureDocId).as("doc_id"),
      lit(ByteBpeFixtureText).as("text"),
      lit("en").as("lang"),
      lit("src0").as("source"),
      lit(ByteBpeFixtureText.length.toLong).as("n_chars")))
  }

  private val byteBpeGateCorpusSql =
    s"(SELECT doc_id, text, lang, source, n_chars FROM documents " +
      s"UNION ALL SELECT $ByteBpeFixtureDocId, '${ByteBpeFixtureText.replace("'", "''")}', " +
      s"'en', 'src0', ${ByteBpeFixtureText.length})"

  /** DuckDB replay of [[Ann.lshTopK]] with the deterministic ±1
    * hyperplane sign matrices (graft.functions.SketchesLsh.bucket's
    * splitmix64 derivation) inlined as literal DOUBLE arrays — the
    * planes are plan constants, so the "random" projection is plain
    * SQL. Bucket bit p of table t is `dot(e, plane) > 0`; both engines
    * compute the dot as a sequential double sum over identical values,
    * so the sign (and hence the bucket, candidate set, cosine, and
    * rank) is bit-exact cross-engine.
    */
  private def lshTopkOracle(dim: Int, nPlanes: Int, nTables: Int, k: Int): String = {
    def planeSigns(seed: Int): Seq[String] = {
      val base = graft.functions.Sketches.mix(seed.toLong * 0x9e3779b97f4a7c15L)
      (0 until nPlanes).map { p =>
        (0 until dim).map { j =>
          if ((graft.functions.Sketches.mix(base ^ (p.toLong * dim + j)) & 1L) == 1L) "1.0"
          else "-1.0"
        }.mkString("[", ", ", "]")
      }
    }
    val branches = (0 until nTables).map { t =>
      val bucket = planeSigns(t).zipWithIndex.map { case (arr, p) =>
        s"CASE WHEN list_inner_product(e, CAST($arr AS DOUBLE[])) > 0 THEN ${1L << p} ELSE 0 END"
      }.mkString("\n             + ")
      s"SELECT vec_id, $t AS tbl,\n               $bucket AS bucket\n        FROM emb"
    }.mkString("\n      UNION ALL\n      ")
    s"""
      WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      buck AS (
        $branches
      ),
      q AS (SELECT tbl, bucket, vec_id AS query_id FROM buck WHERE vec_id < 10),
      c AS (SELECT tbl, bucket, vec_id AS neighbor_id FROM buck),
      cand AS (
        SELECT DISTINCT query_id, neighbor_id
        FROM q JOIN c USING (tbl, bucket)
        WHERE query_id <> neighbor_id
      ),
      scored AS (
        SELECT query_id, neighbor_id,
               list_inner_product(qv.e, cv.e)
                 / (SQRT(list_inner_product(qv.e, qv.e)) * SQRT(list_inner_product(cv.e, cv.e))) AS cos_sim
        FROM cand
          JOIN emb qv ON qv.vec_id = cand.query_id
          JOIN emb cv ON cv.vec_id = cand.neighbor_id
      ),
      r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
        FROM scored
      )
      SELECT query_id, neighbor_id, cos_sim, rk FROM r WHERE rk <= $k
      ORDER BY query_id, rk
    """
  }

  /** Shared oracle for the two exact-jaccard strategies (count-based
    * postings and PPJoin prefix filtering): output identity between them
    * is part of what the gate proves.
    */
  private val jaccardPairsOracle = """
        WITH tok AS (
          SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM tok a JOIN tok b ON a.source = b.source AND a.term = b.term
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, c / (na.n + nb.n - c) AS jaccard
        FROM inter
          JOIN sizes na ON inter.doc_a = na.doc_id
          JOIN sizes nb ON inter.doc_b = nb.doc_id
        WHERE c / (na.n + nb.n - c) >= 0.5
        ORDER BY doc_a, doc_b
      """

  /** The containment-gate corpus: every document plus a prefix-half copy
    * (offset by 2·DupOffset) — each half's token set is contained in its
    * original with containment exactly 1. Shared by the three containment
    * gates so all strategies run on identical input.
    */
  private def containmentCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val halves = docs.select(
      (col("doc_id") + lit(2 * DupOffset)).as("doc_id"),
      expr("array_join(slice(split(text, ' '), 1, (size(split(text, ' ')) + 1) div 2), ' ')").as("text"),
      col("source"))
    docs.select(col("doc_id"), col("text"), col("source")).unionByName(halves)
  }

  /** Shared oracle for the containment strategies (count-based postings,
    * prefix-filtered, and the cost-based chooser): exact |A∩B|/|A| over
    * every co-occurring in-block directed pair — output identity between
    * the strategies is part of what the gates prove.
    */
  private lazy val containmentPairsOracle = s"""
        WITH corpus AS (
          SELECT doc_id, text, source FROM documents
          UNION ALL
          SELECT doc_id + ${2 * DupOffset},
                 array_to_string(list_slice(string_split(text, ' '), 1,
                   (len(string_split(text, ' ')) + 1) // 2), ' ') AS text,
                 source
          FROM documents
        ), toks AS (
          SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS term
          FROM corpus
        ), sizes AS (
          SELECT doc_id, CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n
          FROM corpus
        ), pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks a JOIN toks b
            ON a.source = b.source AND a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), directed AS (
          SELECT p.doc_a AS doc_sub, p.doc_b AS doc_sup,
                 CAST(p.c AS DOUBLE) / sa.n AS containment
          FROM pairs p JOIN sizes sa ON p.doc_a = sa.doc_id
          UNION ALL
          SELECT p.doc_b AS doc_sub, p.doc_a AS doc_sup,
                 CAST(p.c AS DOUBLE) / sb.n AS containment
          FROM pairs p JOIN sizes sb ON p.doc_b = sb.doc_id
        )
        SELECT doc_sub, doc_sup, containment FROM directed
        WHERE containment >= 0.9
        ORDER BY doc_sub, doc_sup
      """

  /** Shared oracle for the two span-fingerprint strategies (md5-per-window
    * and the O(n) Rabin-Karp rolling form): per-doc window/dup-window
    * counts are fingerprint-agnostic, so both must match this exactly —
    * output identity between the strategies is part of what the gate
    * proves (the doc_jaccard_pairs/ppjoin twin-gate pattern).
    */
  private val dupSpansOracle = """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        wins AS (
          SELECT doc_id, md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS wh
          FROM (
            SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
            FROM toks
          )
        ),
        dupw AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) >= 2),
        counts AS (SELECT doc_id, COUNT(*) AS n_windows FROM wins GROUP BY 1),
        dcounts AS (
          SELECT w.doc_id, COUNT(*) AS n_dup_windows
          FROM wins w JOIN dupw USING (wh) GROUP BY 1
        )
        SELECT t.doc_id,
               COALESCE(c.n_windows, 0) AS n_windows,
               COALESCE(dc.n_dup_windows, 0) AS n_dup_windows
        FROM toks t
          LEFT JOIN counts c USING (doc_id)
          LEFT JOIN dcounts dc USING (doc_id)
        ORDER BY doc_id
      """

  /** Shared DuckDB replay of the emb_kmeans training (two full Lloyd
    * rounds under the cross-engine-exact integer contract), ending at
    * `d3` = every (vec_id, candidate cluster, exact BIGINT d2) pair vs
    * the final centroids — emb_kmeans takes the argmin; downstream
    * consumers (emb_cluster_balance) extend the chain.
    */
  private val kmeansReplayCte = """
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
          FROM embeddings
        ), c0 AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl, q AS c
          FROM q ORDER BY vec_id LIMIT 8
        ), d1 AS (
          SELECT q.vec_id,  c0.cl,
                 CAST(list_sum(list_transform(range(1, 65), i -> (q.q[i] - c0.c[i]) * (q.q[i] - c0.c[i]))) AS BIGINT) AS d2
          FROM q CROSS JOIN c0
        ), a1 AS (
          SELECT vec_id, cl AS cluster FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn FROM d1
          ) WHERE rn = 1
        ), u1 AS (
          SELECT a1.cluster AS cl, t.i + 1 AS pos, SUM(q.q[t.i + 1]) AS s, COUNT(*) AS n
          FROM a1 JOIN q USING (vec_id), range(64) t(i)
          GROUP BY 1, 2
        ), c1 AS (
          SELECT c0.cl, COALESCE(lu.c, c0.c) AS c
          FROM c0 LEFT JOIN (
            SELECT cl, list(CAST(s // n AS BIGINT) ORDER BY pos) AS c FROM u1 GROUP BY cl
          ) lu USING (cl)
        ), d2_ AS (
          SELECT q.vec_id, c1.cl,
                 CAST(list_sum(list_transform(range(1, 65), i -> (q.q[i] - c1.c[i]) * (q.q[i] - c1.c[i]))) AS BIGINT) AS d2
          FROM q CROSS JOIN c1
        ), a2 AS (
          SELECT vec_id, cl AS cluster FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn FROM d2_
          ) WHERE rn = 1
        ), u2 AS (
          SELECT a2.cluster AS cl, t.i + 1 AS pos, SUM(q.q[t.i + 1]) AS s, COUNT(*) AS n
          FROM a2 JOIN q USING (vec_id), range(64) t(i)
          GROUP BY 1, 2
        ), c2 AS (
          SELECT c1.cl, COALESCE(lu.c, c1.c) AS c
          FROM c1 LEFT JOIN (
            SELECT cl, list(CAST(s // n AS BIGINT) ORDER BY pos) AS c FROM u2 GROUP BY cl
          ) lu USING (cl)
        ), d3 AS (
          SELECT q.vec_id, c2.cl,
                 CAST(list_sum(list_transform(range(1, 65), i -> (q.q[i] - c2.c[i]) * (q.q[i] - c2.c[i]))) AS BIGINT) AS d2
          FROM q CROSS JOIN c2
        )"""

  /** The three fingerprint families of the mixed-modality fixture,
    * replayed from their raster/spectral algebra (shared by
    * mm_mixed_dedup and mm_stream_mixed): `img_*` re-derives the 8×8
    * luma-gradient dHash, `aud_*` the Walsh–Hadamard band-sign
    * fingerprint, `vid_*` the frame-0 luma dHash (3× the image gradient
    * — sign-identical by construction, which is why modality-disjoint
    * banding matters downstream).
    */
  private val mixedFpsCtes: String = """img_imgs AS (
          SELECT doc_id AS img, doc_id AS base, 0 AS variant
          FROM documents WHERE doc_id < 40
          UNION ALL
          SELECT doc_id + 1000, doc_id, 0 FROM documents
          WHERE doc_id < 40 AND doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + 2000, doc_id, 1 FROM documents
          WHERE doc_id < 40 AND doc_id % 7 = 0
        ),
        img_grid AS (
          SELECT img, base, variant,
                 gy.range AS gy, gx.range AS gx,
                 CAST(gy.range * 2 AS BIGINT) AS sy,
                 CAST(gx.range * 16 // 9 AS BIGINT) AS sxa,
                 CAST((gx.range + 1) * 16 // 9 AS BIGINT) AS sxb
          FROM img_imgs, range(8) gy, range(8) gx
        ),
        img_bits AS (
          SELECT img, gy * 8 + gx AS b,
                 CASE WHEN (CASE WHEN variant = 1 AND sy >= 14 AND sxa >= 12
                                 THEN (base * 31) % 256
                                 ELSE ((sy * 16 + sxa) * (97 + 2 * base) + base * 53) % 256 END)
                         < (CASE WHEN variant = 1 AND sy >= 14 AND sxb >= 12
                                 THEN (base * 31) % 256
                                 ELSE ((sy * 16 + sxb) * (97 + 2 * base) + base * 53) % 256 END)
                      THEN 1 ELSE 0 END AS bit
          FROM img_grid
        ),
        img_hashes AS (
          SELECT img,
                 CAST(SUM(CASE WHEN bit = 0 THEN 0
                               WHEN b = 63 THEN -9223372036854775808
                               ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END) AS BIGINT) AS h
          FROM img_bits GROUP BY img
        ),
        img_fps AS (SELECT img AS clip, h FROM img_hashes),
        aud_clips AS (
          SELECT doc_id AS clip, doc_id AS base, 0 AS pert
          FROM documents WHERE doc_id < 40
          UNION ALL
          SELECT doc_id + 1000, doc_id, 1 FROM documents
          WHERE doc_id < 40 AND doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + 2000, doc_id, 2 FROM documents
          WHERE doc_id < 40 AND doc_id % 7 = 0
        ),
        aud_samp AS (
          SELECT clip, t.range AS i,
                 (((t.range * (base * 64 + 17) + 29) * (t.range * (base * 64 + 17) + 29)
                     % 816929) % 4096 - 2048)
                   * CASE WHEN pert = 1 THEN 2 ELSE 1 END
                 + CASE WHEN pert = 2 AND t.range BETWEEN 128 AND 191
                        THEN (t.range * 7) % 401 - 200 ELSE 0 END AS v
          FROM aud_clips, range(576) t
        ),
        aud_wht AS (
          SELECT s.clip, s.i // 64 AS f, k.range AS k,
                 CAST(SUM(CASE WHEN bit_count((s.i % 64) & k.range) % 2 = 0
                               THEN s.v ELSE -s.v END) AS BIGINT) AS h
          FROM aud_samp s, range(1, 64) k
          GROUP BY 1, 2, 3
        ),
        aud_bands AS (
          SELECT clip, f, (k - 1) // 7 AS b, CAST(SUM(ABS(h)) AS BIGINT) AS e
          FROM aud_wht GROUP BY 1, 2, 3
        ),
        aud_bits AS (
          SELECT c.clip, (c.f - 1) * 8 + c.b AS idx,
                 CASE WHEN (c.e - cn.e) - (p.e - pn.e) > 0 THEN 1 ELSE 0 END AS bit
          FROM aud_bands c
          JOIN aud_bands cn ON cn.clip = c.clip AND cn.f = c.f AND cn.b = c.b + 1
          JOIN aud_bands p  ON p.clip = c.clip AND p.f = c.f - 1 AND p.b = c.b
          JOIN aud_bands pn ON pn.clip = c.clip AND pn.f = c.f - 1 AND pn.b = c.b + 1
          WHERE c.f >= 1 AND c.b <= 7
        ),
        aud_fps AS (
          SELECT clip,
                 CAST(SUM(CASE WHEN bit = 0 THEN 0
                               WHEN idx = 63 THEN -9223372036854775808
                               ELSE CAST(1 AS BIGINT) << CAST(idx AS INT) END) AS BIGINT) AS h
          FROM aud_bits GROUP BY clip
        ),
        vid_clips AS (
          SELECT doc_id AS clip, doc_id AS base, 0 AS variant
          FROM documents WHERE doc_id < 40
          UNION ALL
          SELECT doc_id + 1000, doc_id, 0 FROM documents
          WHERE doc_id < 40 AND doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + 2000, doc_id, 1 FROM documents
          WHERE doc_id < 40 AND doc_id % 7 = 0
        ),
        vid_grid AS (
          SELECT clip, base, variant, gy.range AS gy, gx.range AS gx,
                 CAST(gy.range * 2 AS BIGINT) AS sy,
                 CAST(gx.range * 16 // 9 AS BIGINT) AS sxa,
                 CAST((gx.range + 1) * 16 // 9 AS BIGINT) AS sxb
          FROM vid_clips, range(8) gy, range(8) gx
        ),
        vid_bits AS (
          SELECT clip, gy * 8 + gx AS b,
                 CASE WHEN (CASE WHEN variant = 1 AND sy >= 14 AND sxa >= 12
                                 THEN 3 * ((base * 31) % 256)
                                 ELSE 3 * (((sy * 16 + sxa) * (97 + 2 * base) + base * 53) % 256) END)
                         < (CASE WHEN variant = 1 AND sy >= 14 AND sxb >= 12
                                 THEN 3 * ((base * 31) % 256)
                                 ELSE 3 * (((sy * 16 + sxb) * (97 + 2 * base) + base * 53) % 256) END)
                      THEN 1 ELSE 0 END AS bit
          FROM vid_grid
        ),
        vid_hashes AS (
          SELECT clip,
                 CAST(SUM(CASE WHEN bit = 0 THEN 0
                               WHEN b = 63 THEN -9223372036854775808
                               ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END) AS BIGINT) AS h
          FROM vid_bits GROUP BY clip
        ),
        vid_fps AS (SELECT clip, h FROM vid_hashes)"""

  /** DuckDB replay of QualityTrainer.train over the documents table —
    * 256 buckets, 3 full-batch GD iterations, LrDen 16, ending at
    * `m_final` = (id, y, margin) under the final weights. Generated
    * iteration-by-iteration so the oracle unrolls EXACTLY the training
    * loop: forward margins (m_i), hard-sigmoid errors (e_i), per-bucket
    * gradient sums (gb_i), truncating-div updates (w_i, b_i). DuckDB
    * `//` and Spark `div`/JVM `/` all truncate toward zero — the
    * div-parity the whole fixed-point contract rides on. Every CTE read
    * more than once (tok, feat, lab, den, e_i, w_i, b_i) is MATERIALIZED:
    * DuckDB 1.0 inlines each reference, so the chain would be re-evaluated
    * per path.
    */
  private def gdReplayCtes(buckets: Int = 256, gdIters: Int = 3): String = {
    val header = s"""
        rows AS (SELECT doc_id AS id, text AS txt FROM documents),
        tok AS MATERIALIZED (SELECT id, unnest(string_split(txt, ' ')) AS tok FROM rows),
        feat AS MATERIALIZED (SELECT DISTINCT id,
                   CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % $buckets AS b FROM tok),
        stats AS (SELECT id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                         CAST(MAX(c) AS BIGINT) AS top
                  FROM (SELECT id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
                  GROUP BY 1),
        lab AS MATERIALIZED (SELECT id, CAST(n_tokens >= 10 AND top * 5 <= n_tokens AS BIGINT) AS y
                FROM stats),
        den AS MATERIALIZED (SELECT COUNT(*) * 16 AS den FROM lab),
        m1 AS (SELECT id, y, CAST(0 AS BIGINT) AS margin FROM lab)"""
    val iters = (1 to gdIters).map { i =>
      val e =
        s"""e$i AS MATERIALIZED (SELECT id, CAST(LEAST(1000000, GREATEST(0, margin // 4 + 500000))
                      - y * 1000000 AS BIGINT) AS err FROM m$i)"""
      val gb =
        s"""gb$i AS (SELECT f.b, CAST(SUM(e.err) AS BIGINT) AS g
                     FROM feat f JOIN e$i e USING (id) GROUP BY 1)"""
      val w =
        if (i == 1)
          "w1 AS MATERIALIZED (SELECT b, CAST(-(g // (SELECT den FROM den)) AS BIGINT) AS w FROM gb1)"
        else
          s"""w$i AS MATERIALIZED (SELECT p.b, CAST(p.w - (g.g // (SELECT den FROM den)) AS BIGINT) AS w
                      FROM w${i - 1} p JOIN gb$i g USING (b))"""
      val b =
        if (i == 1)
          """b1 AS MATERIALIZED (SELECT CAST(-(CAST(SUM(err) AS BIGINT) // (SELECT den FROM den))
                      AS BIGINT) AS w FROM e1)"""
        else
          s"""b$i AS MATERIALIZED (SELECT CAST((SELECT w FROM b${i - 1})
                        - (CAST(SUM(err) AS BIGINT) // (SELECT den FROM den))
                        AS BIGINT) AS w FROM e$i)"""
      val m =
        s"""m${i + 1} AS (SELECT l.id, l.y,
                   CAST((SELECT w FROM b$i) + SUM(w.w) AS BIGINT) AS margin
                 FROM lab l JOIN feat f USING (id) JOIN w$i w USING (b)
                 GROUP BY 1, 2)"""
      Seq(e, gb, w, b, m).mkString(",\n        ")
    }
    (header +: iters).mkString(",\n        ") +
      s",\n        m_final AS (SELECT * FROM m${gdIters + 1})"
  }

  /** DuckDB replay of the near-dup image fixture's dHash algebra
    * (shared by mm_phash_dedup and mm_stream_neardup): `imgs` mirrors
    * [[graft.multimodal.Multimodal.syntheticNearDupImages]] (base PNG +
    * raster-identical BMP at id+1000 for every 5th + bottom-right tweak
    * at id+2000 for every 7th), `grid`/`bits` re-derive the 8×8
    * luma-gradient NN sampling from [[Multimodal.nearDupPixel]]'s pixel
    * formula, and `hashes` assembles the signed 64-bit fingerprints.
    */
  private val dhashAlgebraCtes: String = """imgs AS (
          SELECT doc_id AS img, doc_id AS base, 0 AS variant
          FROM documents WHERE doc_id < 40
          UNION ALL
          SELECT doc_id + 1000, doc_id, 0 FROM documents
          WHERE doc_id < 40 AND doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + 2000, doc_id, 1 FROM documents
          WHERE doc_id < 40 AND doc_id % 7 = 0
        ),
        grid AS (
          SELECT img, base, variant,
                 gy.range AS gy, gx.range AS gx,
                 CAST(gy.range * 2 AS BIGINT) AS sy,
                 CAST(gx.range * 16 // 9 AS BIGINT) AS sxa,
                 CAST((gx.range + 1) * 16 // 9 AS BIGINT) AS sxb
          FROM imgs, range(8) gy, range(8) gx
        ),
        bits AS (
          SELECT img, gy * 8 + gx AS b,
                 CASE WHEN (CASE WHEN variant = 1 AND sy >= 14 AND sxa >= 12
                                 THEN (base * 31) % 256
                                 ELSE ((sy * 16 + sxa) * (97 + 2 * base) + base * 53) % 256 END)
                         < (CASE WHEN variant = 1 AND sy >= 14 AND sxb >= 12
                                 THEN (base * 31) % 256
                                 ELSE ((sy * 16 + sxb) * (97 + 2 * base) + base * 53) % 256 END)
                      THEN 1 ELSE 0 END AS bit
          FROM grid
        ),
        hashes AS (
          SELECT img,
                 CAST(SUM(CASE WHEN bit = 0 THEN 0
                               WHEN b = 63 THEN -9223372036854775808
                               ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END) AS BIGINT) AS h
          FROM bits GROUP BY img
        )"""

  /** Unrolled-CTE DuckDB replay of the greedy MMR selection (λ = 0.5):
    * `cand` is the exact cosine top-`nCand` per query (vec_id < 10) with
    * embeddings, `pair` the within-candidate-set pairwise cosines, and
    * each step r picks argmax of `0.5·simq − 0.5·max sim(c, picked)`
    * (ties → smaller id) — the same arithmetic, visit order, and
    * tie-break as [[graft.functions.MmrKernel.select]]. Step r reads
    * `sel<r−1>` three times (join, NOT EXISTS, UNION ALL), so `cand`,
    * `pair` and every `sel<r>` are MATERIALIZED: inlined, DuckDB 1.0
    * would re-evaluate the whole chain ~3^k times.
    */
  private def mmrReplayCtes(nCand: Int, k: Int): String = {
    val header = s"""
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
              FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
              FROM embeddings),
        scored AS (
          SELECT query_id, neighbor_id, ce,
                 list_inner_product(qe, ce)
                   / (SQRT(list_inner_product(qe, qe)) * SQRT(list_inner_product(ce, ce))) AS cos_sim
          FROM q, c WHERE query_id <> neighbor_id),
        cand AS MATERIALIZED (
          SELECT query_id, neighbor_id, cos_sim, ce FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rk
            FROM scored) WHERE rk <= $nCand),
        pair AS MATERIALIZED (
          SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
                 list_inner_product(a.ce, b.ce)
                   / (SQRT(list_inner_product(a.ce, a.ce)) * SQRT(list_inner_product(b.ce, b.ce))) AS sim
          FROM cand a JOIN cand b
            ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
        sel1 AS MATERIALIZED (
          SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS mmr_rank,
                 0.5 * cos_sim - 0.5 * 0.0 AS score
          FROM (SELECT query_id, neighbor_id, cos_sim,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY 0.5 * cos_sim - 0.5 * 0.0 DESC, neighbor_id) AS rn
                FROM cand) WHERE rn = 1)"""
    val steps = (2 to k).map { r =>
      s"""cand$r AS (
          SELECT s.query_id, s.neighbor_id, s.cos_sim, MAX(p.sim) AS maxs
          FROM cand s
          JOIN pair p ON p.query_id = s.query_id AND p.ia = s.neighbor_id
          JOIN sel${r - 1} x ON x.query_id = p.query_id AND x.neighbor_id = p.ib
          WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} y
                            WHERE y.query_id = s.query_id
                              AND y.neighbor_id = s.neighbor_id)
          GROUP BY 1, 2, 3),
        pk$r AS (
          SELECT query_id, neighbor_id, CAST($r AS BIGINT) AS mmr_rank,
                 0.5 * cos_sim - 0.5 * maxs AS score
          FROM (SELECT query_id, neighbor_id, cos_sim, maxs,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY 0.5 * cos_sim - 0.5 * maxs DESC, neighbor_id) AS rn
                FROM cand$r) WHERE rn = 1),
        sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pk$r)"""
    }
    (header +: steps).mkString(",\n        ")
  }

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------- exact dedup
    // One hash-partitioned aggregate; only (hash, id) shuffles at scale.
    Q(
      "doc_exact_dedup",
      (s, d) =>
        Dedup.exactGroups(dupCorpus(s, d))
          .orderBy(col("keep_id")),
      Some(s"""
        SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
        FROM $dupCorpusSql
        GROUP BY 1 ORDER BY keep_id
      """),
    ),
    // ----------------------------------------- MinHash signature + verify
    // Full-signature grouping (identical token set ⇒ identical signature ⇒
    // same group; recall at j=1 is exact), then exact token-SET equality
    // verification removes hash coincidences — so the output is
    // hash-independent and oracle-checkable. Banded LSH (sub-1.0
    // thresholds) is covered by the unit suite; its bucket joins on this
    // deliberately duplicate-heavy corpus would be all skew and no signal.
    Q(
      "doc_minhash_dedup",
      (s, d) => {
        val corpus = dupCorpus(s, d)
        val cands = Dedup.minhashDupPairs(corpus)
        val toks = corpus.select(
          col("doc_id"),
          array_sort(array_distinct(split(col("text"), " "))).as("toks"),
        )
        cands
          .join(toks.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), Seq("id_a"))
          .join(toks.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), Seq("id_b"))
          .filter(col("toks_a") === col("toks_b"))
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""
        WITH ts AS (
          SELECT doc_id,
                 array_to_string(list_sort(list_distinct(string_split(text, ' '))), chr(31)) AS tk
          FROM $dupCorpusSql
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ts a JOIN ts b ON a.tk = b.tk AND a.doc_id < b.doc_id
        ORDER BY id_a, id_b
      """),
    ),
    // ------------------------------------------------- SimHash + verify
    // Hamming-0 pairs via direct hash grouping (distance 0 ⇔ equal hash),
    // then exact token-MULTISET equality verification. The pigeonhole-
    // banded path (hamming ≥ 1) is covered by the unit suite.
    Q(
      "doc_simhash_dedup",
      (s, d) => {
        val corpus = dupCorpus(s, d)
        val pairs = Dedup.simhashDupPairs(corpus)
        val toks = corpus.select(
          col("doc_id"),
          array_sort(split(col("text"), " ")).as("toks"),
        )
        pairs
          .join(toks.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), Seq("id_a"))
          .join(toks.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), Seq("id_b"))
          .filter(col("toks_a") === col("toks_b"))
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""
        WITH ts AS (
          SELECT doc_id,
                 array_to_string(list_sort(string_split(text, ' ')), chr(31)) AS tk
          FROM $dupCorpusSql
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ts a JOIN ts b ON a.tk = b.tk AND a.doc_id < b.doc_id
        ORDER BY id_a, id_b
      """),
    ),
    // ---------------------------------------------- repeated-passage spans
    // Window form of exact substring dedup (arXiv:2107.06499's suffix-array
    // pass, approximated with W-token window fingerprints): counting only —
    // no pair stream, nothing quadratic however hot a boilerplate window is.
    Q(
      "doc_dup_spans",
      (s, d) => Dedup.duplicateSpans(T(s, d, "documents"), w = 8),
      Some(dupSpansOracle),
    ),
    // The REMOVAL action behind the span counts (arXiv:2107.06499 §4 —
    // deduplicate the substrings themselves): drop every token covered
    // by a corpus-duplicated window, re-join the survivors, and gate the
    // md5 of the CLEANED TEXT — the oracle rebuilds each cleaned string
    // independently, so a single mis-kept token anywhere fails the hash.
    Q(
      "doc_dup_spans_removed",
      (s, d) => Dedup.removeDuplicateSpans(T(s, d, "documents"), w = 8),
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        wins AS (
          SELECT doc_id, i - 1 AS s,
                 md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS wh
          FROM (
            SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
            FROM toks
          )
        ),
        dupw AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) >= 2),
        starts AS (
          SELECT w.doc_id, list(w.s) AS ss
          FROM wins w JOIN dupw USING (wh) GROUP BY 1
        ),
        clean AS (
          SELECT t.doc_id,
                 len(t.t) AS n_tokens,
                 list_transform(
                   list_filter(generate_series(0, len(t.t) - 1),
                     i -> NOT len(list_filter(COALESCE(st.ss, []),
                                              s -> s <= i AND i < s + 8)) > 0),
                   i -> t.t[i + 1]) AS kept
          FROM toks t LEFT JOIN starts st USING (doc_id)
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
               -- DuckDB array_to_string([]) is NULL where Spark
               -- array_join([]) is '' — a fully-removed doc must hash ''
               md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_fp
        FROM clean ORDER BY doc_id
      """),
    ),
    // The O(n) ROLLING-HASH twin (128-bit Rabin-Karp window fingerprints
    // via the codegen'd graft_window_fps128 expression — two independent
    // streams rolled in one pass), gated against the IDENTICAL oracle:
    // the md5 form re-hashes all W tokens per position (O(W·n) digest
    // work) where this form hashes each token once and rolls — the
    // 100 TB strategy Dedup.duplicateSpans' scaladoc promises, at the
    // width that strategy needs (64-bit fingerprints collide with
    // near-certainty at 10^13+ windows; see Sketches.windowFps128).
    // Same counting stage, so the outputs must agree exactly every round.
    Q(
      "doc_dup_spans_rolling",
      (s, d) => Dedup.duplicateSpansRolling(T(s, d, "documents"), w = 8),
      Some(dupSpansOracle),
    ),
    // --------------------------------------- content-defined chunk dedup
    // CDC (LBFS/FastCDC-style): boundaries fall where the md5 of the
    // trailing 8-char window starts with hex '0', so shared passages
    // chunk identically REGARDLESS of their offset — an insertion
    // re-aligns every later chunk, which fixed windows can't do. The
    // boundary rule is deliberately md5 so the oracle replays the exact
    // pipeline (boundaries → chunks → shared-content counts) in DuckDB;
    // counting only, no pair stream (see Dedup.cdcChunkStats).
    Q(
      "doc_cdc_dedup",
      (s, d) => Dedup.cdcChunkStats(T(s, d, "documents"), w = 8),
      Some("""
        WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        b AS (
          SELECT doc_id, n, text,
                 list_filter(CASE WHEN n >= 8 THEN generate_series(8, n) ELSE [] END,
                             p -> md5(substring(text, p - 7, 8)) LIKE '0%') AS bnd
          FROM d
        ),
        ch AS (
          SELECT doc_id,
                 list_filter(
                   list_transform(generate_series(1, len(bnd) + 1), i ->
                     CASE WHEN (CASE WHEN i = len(bnd) + 1 THEN n
                                     ELSE bnd[i] END)
                            >= (CASE WHEN i = 1 THEN 1 ELSE bnd[i-1] + 1 END)
                          THEN substring(text,
                                 CASE WHEN i = 1 THEN 1 ELSE bnd[i-1] + 1 END,
                                 (CASE WHEN i = len(bnd) + 1 THEN n ELSE bnd[i] END)
                                   - (CASE WHEN i = 1 THEN 1 ELSE bnd[i-1] + 1 END) + 1)
                     END),
                   c -> c IS NOT NULL) AS chunks
          FROM b
        ),
        dc AS (
          SELECT DISTINCT doc_id, md5(unnest(chunks)) AS h FROM ch
        ),
        pop AS (SELECT h FROM dc GROUP BY h HAVING COUNT(*) >= 2),
        sh AS (
          SELECT dc.doc_id, COUNT(*) AS n_shared_chunks
          FROM dc JOIN pop USING (h) GROUP BY dc.doc_id
        )
        SELECT ch.doc_id,
               CAST(len(ch.chunks) AS BIGINT) AS n_chunks,
               COALESCE(sh.n_shared_chunks, 0) AS n_shared_chunks
        FROM ch LEFT JOIN sh ON ch.doc_id = sh.doc_id
        ORDER BY ch.doc_id
      """),
    ),
    // ------------------------------------------- exact n-gram/token Jaccard
    // Blocked inverted-index join (block = source): candidate generation is
    // per-block, never quadratic in the corpus.
    Q(
      "doc_jaccard_pairs",
      (s, d) =>
        Dedup.tokenJaccardPairs(T(s, d, "documents"), threshold = 0.5)
          .orderBy(col("doc_a"), col("doc_b")),
      Some(jaccardPairsOracle),
    ),
    // The PREFIX-FILTERED (PPJoin-style) twin, gated against the IDENTICAL
    // oracle: both strategies must produce the same pairs every round, so
    // the large-vocabulary path can't silently rot while only the
    // count-based path rides the gate. Strategy choice is data-driven —
    // prefix filtering wins when rare prefix terms make candidate buckets
    // tiny (realistic large vocabularies), loses on this corpus's dense
    // tiny vocabulary (see Dedup.tokenJaccardPairsPrefix + PLANS.md).
    Q(
      "doc_jaccard_pairs_ppjoin",
      (s, d) =>
        Dedup.tokenJaccardPairsPrefix(T(s, d, "documents"), threshold = 0.5)
          .orderBy(col("doc_a"), col("doc_b")),
      Some(jaccardPairsOracle),
    ),
    // The COST-BASED chooser over the two strategies above: one cheap
    // stats pass (sizes agg + df histogram-of-histogram) estimates each
    // strategy's candidate-pair volume and runs the smaller one — the
    // count path on this dense tiny vocabulary (DedupSpec pins the
    // verdict on both regimes; the bench times the chooser against both
    // measured strategies on the large-vocab Zipf corpus too). Gated
    // against the IDENTICAL oracle as both fixed-strategy gates: the
    // chooser can change cost, never results.
    Q(
      "doc_jaccard_pairs_auto",
      (s, d) =>
        Dedup.tokenJaccardPairsAuto(T(s, d, "documents"), threshold = 0.5)
          .orderBy(col("doc_a"), col("doc_b")),
      Some(jaccardPairsOracle),
    ),
    // The chooser fed from PERSISTED ANALYZE statistics: one
    // analyzeTokenStats pass writes the two bounded histograms
    // (doc-size, per-(block,term)-df) as a sidecar, and the auto
    // chooser's decision is then pure driver algebra over the stored
    // rows — zero Spark jobs before the chosen strategy runs (the
    // "consume the CBO food" half of the ANALYZE verb). Same oracle as
    // every other Jaccard face: stats can change the plan, never the
    // rows. The bench pins decision parity between the stored-stats and
    // live-pass routes on BOTH crossover corpora.
    Q(
      "doc_jaccard_pairs_stats",
      (s, d) => {
        val docs = T(s, d, "documents")
        val statsDir = sys.props("java.io.tmpdir") + "/graft_jacstats/" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          graft.similarity.Ann.inputFingerprint(docs)
        if (!new java.io.File(s"$statsDir/_SUCCESS").exists())
          Dedup.analyzeTokenStats(docs, statsDir)
        Dedup.tokenJaccardPairsAuto(docs, threshold = 0.5, statsDir = Some(statsDir))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(jaccardPairsOracle),
    ),
    // ----------------------------------------- skew-adversarial Jaccard
    // The capped paths under DELIBERATE skew (the benign harness corpus
    // never fires the guards): every doc gains a universal 'stopterm',
    // 30% gain a 'hotshingle', and every 10th doc gets a near-copy
    // sharing a df=2 'mkN' marker. With maxTermDf = 10 the hot terms are
    // DENSE — excluded from candidate generation (the cap that keeps one
    // stop-term from fanning |block|² pairs at 100 TB) yet still counted
    // EXACTLY in every surfaced pair's jaccard through the dense-term
    // correction. The oracle replays the full capped semantics: rare-term
    // candidates, full-intersection jaccard. Output = the injected
    // near-copy pairs, found via their rare marker.
    Q(
      "doc_jaccard_skewed",
      (s, d) => {
        Dedup.tokenJaccardPairs(
          skewedJaccardCorpus(s, d), blockCol = "lang",
          threshold = 0.5, maxTermDf = 10)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH $skewedJaccardCorpusSql,
        arrs AS (
          SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks FROM corpus
        ),
        toks AS (SELECT doc_id, lang, unnest(toks) AS term FROM arrs),
        df AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY 1, 2),
        rare AS (
          SELECT t.doc_id, t.lang, t.term
          FROM toks t JOIN df USING (lang, term) WHERE df.df <= 10
        ),
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM rare a JOIN rare b
            ON a.lang = b.lang AND a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
        FROM cand c
        JOIN arrs a ON a.doc_id = c.doc_a
        JOIN arrs b ON b.doc_id = c.doc_b
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
                / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
        ORDER BY doc_a, doc_b
      """),
    ),
    // The BOUNDEDNESS gate for the same skewed corpus: the capped
    // candidate stream must stay LINEAR in the corpus (each rare posting
    // is ≤ maxTermDf long), while the un-capped stop-term alone would
    // fan Σ_block (n_block choose 2) pairs — quadratic. Both counts are
    // computed on BOTH engines (the oracle independently replays
    // candidate generation), and `bounded` asserts candidates ≤ 2·docs
    // in the artifact — the observe()-style pair-stream pin, made
    // hash-gated instead of bench-side.
    Q(
      "doc_jaccard_skewed_bound",
      (s, d) => {
        val corpus = skewedJaccardCorpus(s, d)
        val cands = Dedup.tokenJaccardPairs(
          corpus, blockCol = "lang", threshold = 0.0, maxTermDf = 10)
        val nDocs = corpus.groupBy().agg(count(lit(1)).as("n_docs"))
        val uncapped = corpus.groupBy(col("lang")).agg(count(lit(1)).as("nb"))
          .agg(sum(col("nb") * (col("nb") - 1) / 2).cast("bigint").as("stopterm_fanout"))
        cands.groupBy().agg(count(lit(1)).as("n_candidates"))
          .crossJoin(nDocs).crossJoin(uncapped)
          .select(
            col("n_candidates"), col("n_docs"), col("stopterm_fanout"),
            (col("n_candidates") <= col("n_docs") * 2).as("bounded"))
      },
      Some(s"""
        WITH $skewedJaccardCorpusSql,
        arrs AS (
          SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks FROM corpus
        ),
        toks AS (SELECT doc_id, lang, unnest(toks) AS term FROM arrs),
        df AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY 1, 2),
        rare AS (
          SELECT t.doc_id, t.lang, t.term
          FROM toks t JOIN df USING (lang, term) WHERE df.df <= 10
        ),
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM rare a JOIN rare b
            ON a.lang = b.lang AND a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n_docs,
               (SELECT CAST(SUM(nb * (nb - 1) // 2) AS BIGINT)
                FROM (SELECT COUNT(*) AS nb FROM corpus GROUP BY lang)) AS stopterm_fanout,
               (SELECT COUNT(*) FROM cand) <= 2 * (SELECT COUNT(*) FROM corpus) AS bounded
      """),
    ),
    // -------------------------------------------- skewed-bucket MinHash
    // The hot-LSH-bucket adversary: 60 byte-identical boilerplate pages
    // land every band in ONE bucket of 60 — over the maxBucketSize = 20
    // cap, so the banded path DROPS the bucket (the documented recall
    // cost that keeps one boilerplate group from going quadratic) while
    // ordinary duplicate groups (≤ 20 members) keep all their pairs,
    // exactly verified by text equality so the output is
    // hash-independent. The oracle replays the cap as group-size
    // semantics: identical-text groups of 2..20 yield their pairs, the
    // hot group yields none.
    Q(
      "doc_minhash_skewed",
      (s, d) => {
        // disjoint per-doc vocabularies ('t<id>x<j>'): distinct docs share
        // no tokens, so minhash band buckets contain EXACTLY the
        // identical-text groups (on the dense 61-word harness vocabulary,
        // similar-but-distinct docs share band slices and pollute bucket
        // sizes, making the cap's effect hash-dependent — the corpus
        // must isolate the semantics the oracle replays)
        val ids = T(s, d, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 400)
        val base = ids.select(col("doc_id"),
          concat_ws(" ", (0 until 8).map(j =>
            concat(lit("t"), col("doc_id"), lit(s"x$j"))): _*).as("text"))
        val corpus = base
          .unionByName(base.select(
            (col("doc_id") + DupOffset).as("doc_id"), col("text")))
          .unionByName(ids.filter(col("doc_id") < 60).select(
            (col("doc_id") + 2 * DupOffset).as("doc_id"),
            lit("hot bucket boilerplate page exactly identical").as("text")))
        val cand = Dedup.minhashCandidatePairs(
          Dedup.minhash(corpus), maxBucketSize = 20)
        val hashes = corpus.select(col("doc_id"), md5(col("text")).as("th"))
        cand
          .join(hashes.select(col("doc_id").as("id_a"), col("th").as("ha")), Seq("id_a"))
          .join(hashes.select(col("doc_id").as("id_b"), col("th").as("hb")), Seq("id_b"))
          .filter(col("ha") === col("hb")) // exact verify: no hash coincidences
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id,
                 ${(0 until 8).map(j => s"'t' || doc_id || 'x$j'").mkString(" || ' ' || ")} AS text
          FROM documents WHERE doc_id < 400
        ), corpus AS (
          SELECT doc_id, text FROM base
          UNION ALL
          SELECT doc_id + $DupOffset, text FROM base
          UNION ALL
          SELECT doc_id + ${2 * DupOffset},
                 'hot bucket boilerplate page exactly identical'
          FROM documents WHERE doc_id < 60
        ), g AS (
          SELECT list_sort(list(doc_id)) AS members
          FROM corpus GROUP BY md5(text)
          HAVING COUNT(*) BETWEEN 2 AND 20
        )
        SELECT a.m AS id_a, b.m AS id_b
        FROM g, LATERAL unnest(g.members) a(m), LATERAL unnest(g.members) b(m)
        WHERE a.m < b.m
        ORDER BY id_a, id_b
      """),
    ),
    // --------------------------------------- word-3-gram shingle Jaccard
    // The n-gram (order-sensitive) variant. Strategy choice is data-driven
    // (see Dedup scaladoc): shingling explodes the vocabulary (~16k
    // distinct shingles / 500 docs) so inverted-index buckets are tiny and
    // the count-based index wins; at this LOW threshold (0.05) prefix
    // filtering cannot prune (prefix ≈ 95% of each doc). Finds the
    // corpus's one true near-dup pair.
    Q(
      "doc_shingle_jaccard",
      (s, d) =>
        Dedup.tokenJaccardPairs(
          T(s, d, "documents"), threshold = 0.05, terms = Dedup.shingles("text", 3))
          .orderBy(col("doc_a"), col("doc_b")),
      Some("""
        WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, source,
                 unnest(list_transform(generate_series(1, len(w) - 2),
                        i -> array_to_string(w[i:i+2], ' '))) AS term
          FROM t
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.source = b.source AND a.term = b.term
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, c / (na.n + nb.n - c) AS jaccard
        FROM inter
          JOIN sizes na ON inter.doc_a = na.doc_id
          JOIN sizes nb ON inter.doc_b = nb.doc_id
        WHERE c / (na.n + nb.n - c) >= 0.05
        ORDER BY doc_a, doc_b
      """),
    ),
    // -------------------------------------------- per-source top-k terms
    // Vocabulary heavy-hitters: distinct-token doc frequency per source,
    // top 5 per source. Map-side partial agg consumes the exploded term
    // stream; the ranking window runs over the AGGREGATED (source, term)
    // vocabulary — ≪ the corpus — with deterministic (count desc, term)
    // tie-breaks.
    Q(
      "doc_topk_terms",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tok = T(s, d, "documents")
          .select(col("source"), explode(array_distinct(split(col("text"), " "))).as("term"))
        val counts = tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("source")).orderBy(col("n_docs").desc, col("term"))
        counts.withColumn("rk", row_number().over(w).cast("bigint"))
          .filter(col("rk") <= 5)
          .select(col("source"), col("term"), col("n_docs"), col("rk"))
          .orderBy(col("source"), col("rk"))
      },
      Some("""
        WITH tok AS (
          SELECT source, unnest(list_distinct(string_split(text, ' '))) AS term FROM documents
        ), c AS (
          SELECT source, term, COUNT(*) AS n_docs FROM tok GROUP BY 1, 2
        ), r AS (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_docs DESC, term) AS BIGINT) AS rk
          FROM c
        )
        SELECT source, term, n_docs, rk FROM r WHERE rk <= 5 ORDER BY source, rk
      """),
    ),
    // -------------------------------- heavy-hitter sketch gate (Misra-Gries)
    // Same contract as ev_hll_users: the exact side (n_tokens, n_heavy) is
    // the oracle face; the sketch side is exposed ONLY through its two
    // order-invariant guarantees, because MG counter contents legitimately
    // depend on partitioning. all_heavy_in_sketch: every term with
    // frequency > n/(k+1) must be a sketch key; est_within_bound: every
    // estimate e satisfies cnt - n/(k+1) <= e <= cnt. Integer arithmetic
    // (cnt*(k+1) vs n) keeps both booleans exact. The sketch itself is the
    // 100 TB shape: O(k) aggregation state per source vs the full
    // vocabulary for the exact twin.
    Q(
      "doc_freq_terms_sketch",
      (s, d) => {
        val k = 32
        val docs = T(s, d, "documents")
        val sk = TextAnalysis.freqTerms(docs, k) // source, n_tokens, sketch
        val toks = docs.select(col("source"), explode(split(col("text"), " ")).as("term"))
        val exact = toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
        val entries = sk.select(
          col("source"), col("n_tokens"), explode(col("sketch")).as(Seq("term", "est")))
        // inner join is lossless: sketch keys are by construction input terms
        val estAudit = entries.join(exact, Seq("source", "term"))
          .groupBy(col("source"))
          .agg(min(
            col("est") <= col("cnt") &&
              (col("cnt") - col("est")) * (k + 1) <= col("n_tokens"))
            .as("est_within_bound"))
        val heavy = exact.join(sk.select(col("source"), col("n_tokens")), "source")
          .filter(col("cnt") * (k + 1) > col("n_tokens"))
        val heavyAudit = heavy.groupBy(col("source")).agg(count(lit(1)).as("n_heavy"))
        val missAudit = heavy
          .join(entries.select(col("source"), col("term")), Seq("source", "term"), "left_anti")
          .groupBy(col("source")).agg(count(lit(1)).as("n_missed"))
        sk.select(col("source"), col("n_tokens"))
          .join(heavyAudit, Seq("source"), "left")
          .join(missAudit, Seq("source"), "left")
          .join(estAudit, Seq("source"), "left")
          .select(
            col("source"),
            col("n_tokens"),
            coalesce(col("n_heavy"), lit(0L)).as("n_heavy"),
            (coalesce(col("n_missed"), lit(0L)) === 0).as("all_heavy_in_sketch"),
            coalesce(col("est_within_bound"), lit(true)).as("est_within_bound"),
          )
          .orderBy(col("source"))
      },
      Some("""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
        ), n AS (
          SELECT source, COUNT(*) AS n_tokens FROM tok GROUP BY 1
        ), c AS (
          SELECT source, term, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
        ), heavy AS (
          SELECT c.source, c.term FROM c JOIN n ON c.source = n.source
          WHERE c.cnt * 33 > n.n_tokens
        )
        SELECT n.source, n.n_tokens,
               (SELECT COUNT(*) FROM heavy h WHERE h.source = n.source) AS n_heavy,
               true AS all_heavy_in_sketch,
               true AS est_within_bound
        FROM n ORDER BY n.source
      """),
    ),
    // ----------------------------------------------------- text statistics
    Q(
      "doc_text_stats",
      (s, d) =>
        TextAnalysis.withStats(T(s, d, "documents"))
          .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"), col("avg_token_len"), col("bpe_tokens"))
          .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
               (length(text) - (len(string_split(text, ' ')) - 1))
                     / len(string_split(text, ' ')) AS avg_token_len,
               len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS bpe_tokens
        FROM documents ORDER BY doc_id
      """),
    ),
    // ------------------------------------ deterministic train/val split
    // md5-order split: engine-portable (no RNG, no engine-specific hash),
    // stable under corpus growth, uniform within every stratum. Counts
    // per (lang, split) verify both determinism and the ~1/8 val rate.
    Q(
      "doc_split_stratified",
      (s, d) =>
        T(s, d, "documents")
          .withColumn("split", Dedup.splitColumn(col("doc_id")))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"), col("split")),
      Some("""
        SELECT lang,
               CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '2' THEN 'val' ELSE 'train' END AS split,
               COUNT(*) AS n_docs
        FROM documents GROUP BY 1, 2 ORDER BY lang, split
      """),
    ),
    // ------------------------------------- benchmark decontamination check
    // n-gram-collision contamination: corpus docs sharing any word 3-gram
    // with the "benchmark" docs (doc_id < 5 stands in for an eval suite).
    // Benchmark shingles broadcast; corpus text never shuffles.
    Q(
      "doc_contamination",
      (s, d) =>
        Dedup.contamination(T(s, d, "documents"), benchFilter = col("doc_id") < 5, n = 3),
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
                        i -> array_to_string(w[i:i+2], ' ')))) AS g
          FROM t
        ),
        bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 5),
        hits AS (
          SELECT sh.doc_id, COUNT(DISTINCT sh.g) AS n_shared_ngrams
          FROM sh JOIN bench USING (g) WHERE sh.doc_id >= 5
          GROUP BY sh.doc_id
        )
        SELECT d.doc_id,
               COALESCE(h.n_shared_ngrams, 0) AS n_shared_ngrams,
               COALESCE(h.n_shared_ngrams, 0) >= 1 AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 5) d
          LEFT JOIN hits h ON d.doc_id = h.doc_id
        ORDER BY d.doc_id
      """),
    ),
    // The BLOOM-PREFILTERED twin of doc_contamination — the shape that
    // survives a benchmark suite whose n-gram set is too large to
    // broadcast as rows: bloom_filter_agg builds the filter distributed
    // (16 bits/gram ≈ 0.04% fpp), the bytes ride as a plan constant, and
    // Spark's codegen'd BloomFilterMightContain drops non-matching
    // corpus shingles map-side BEFORE the join stage. False positives
    // still pass the exact broadcast join, so the output is
    // row-identical to doc_contamination — gated by the IDENTICAL
    // oracle, like the jaccard/ppjoin and md5/rolling twins.
    Q(
      "doc_contamination_bloom",
      (s, d) =>
        Dedup.contaminationBloom(T(s, d, "documents"), benchFilter = col("doc_id") < 5, n = 3),
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
                        i -> array_to_string(w[i:i+2], ' ')))) AS g
          FROM t
        ),
        bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 5),
        hits AS (
          SELECT sh.doc_id, COUNT(DISTINCT sh.g) AS n_shared_ngrams
          FROM sh JOIN bench USING (g) WHERE sh.doc_id >= 5
          GROUP BY sh.doc_id
        )
        SELECT d.doc_id,
               COALESCE(h.n_shared_ngrams, 0) AS n_shared_ngrams,
               COALESCE(h.n_shared_ngrams, 0) >= 1 AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 5) d
          LEFT JOIN hits h ON d.doc_id = h.doc_id
        ORDER BY d.doc_id
      """),
    ),
    // ----------------------------------------- near-dup cluster formation
    // Connected components over the jaccard near-dup pairs (min-id label
    // propagation + pointer jumping — log-diameter rounds of (id, label)
    // shuffles). The oracle computes the same closure with a recursive
    // CTE over the identical SQL-derived pair list.
    Q(
      "doc_dup_clusters",
      (s, d) =>
        Dedup.connectedComponents(
          Dedup.tokenJaccardPairs(T(s, d, "documents"), threshold = 0.5))
          .select(col("id").as("doc_id"), col("cluster_rep")),
      Some("""
        WITH RECURSIVE tok AS (
          SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM tok a JOIN tok b ON a.source = b.source AND a.term = b.term
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        p AS (
          SELECT doc_a, doc_b
          FROM inter
            JOIN sizes na ON inter.doc_a = na.doc_id
            JOIN sizes nb ON inter.doc_b = nb.doc_id
          WHERE c / (na.n + nb.n - c) >= 0.5
        ),
        e AS (SELECT doc_a AS s, doc_b AS d FROM p
              UNION SELECT doc_b, doc_a FROM p),
        reach(id, r) AS (
          SELECT s, s FROM e
          UNION
          SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
        )
        SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
        FROM reach GROUP BY id ORDER BY doc_id
      """),
    ),
    // -------------------------------------------- deduplicated corpus (keep-one)
    // The user-facing end of the dedup family: the corpus AFTER near-dup
    // removal. Each cluster keeps its min-id representative; docs in no
    // cluster survive untouched. The non-representative member list is the
    // small side (duplicates only, never the corpus), so the left_anti
    // join broadcasts under AQE at any corpus scale; the full documents
    // table crosses no shuffle beyond the pair-generation stage itself.
    Q(
      "doc_dedup_corpus",
      (s, d) => {
        val docs = T(s, d, "documents")
        val clusters = Dedup.connectedComponents(
          Dedup.tokenJaccardPairs(docs, threshold = 0.5))
        val losers = clusters
          .filter(col("id") =!= col("cluster_rep"))
          .select(col("id").as("doc_id"))
        // EXPLICIT broadcast, not AQE-inferred: the loser list is ids-only
        // (8 B/row, duplicates only — never the corpus), and the CC side
        // plans from a checkpointed ExistingRDD whose default stats would
        // leave AQE's static plan a sort-merge anti on the whole corpus.
        // PlanAudit shape-pins this (a shuffled anti appearing = silent
        // scale regression, the exact shape this operator exists to avoid).
        docs
          .join(broadcast(losers), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("lang"))
          .orderBy("doc_id")
      },
      Some("""
        WITH RECURSIVE tok AS (
          SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM tok a JOIN tok b ON a.source = b.source AND a.term = b.term
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        p AS (
          SELECT doc_a, doc_b
          FROM inter
            JOIN sizes na ON inter.doc_a = na.doc_id
            JOIN sizes nb ON inter.doc_b = nb.doc_id
          WHERE c / (na.n + nb.n - c) >= 0.5
        ),
        e AS (SELECT doc_a AS s, doc_b AS d FROM p
              UNION SELECT doc_b, doc_a FROM p),
        reach(id, r) AS (
          SELECT s, s FROM e
          UNION
          SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
        ),
        losers AS (
          SELECT id FROM reach GROUP BY id HAVING id != MIN(r)
        )
        SELECT d.doc_id, d.source, d.lang
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = d.doc_id)
        ORDER BY d.doc_id
      """),
    ),
    // ------------------------------------------- incremental (shard) dedup
    // The arrival-order form of dedup a 100 TB pipeline actually runs: a
    // new shard (doc_id >= 250 stands in for it) is judged against
    // everything that arrived earlier — a new doc is dropped iff it has a
    // near-duplicate (token jaccard >= 0.5, in-block) with a SMALLER
    // doc_id, whether that earlier doc is in the base corpus or earlier
    // in the same shard. Deliberately NON-transitive (no CC iteration):
    // each doc is judged against its direct neighbors only, so the rule
    // is single-pass per shard and conservative toward keeping content.
    // At scale the base side's term-df + postings are a build-once index
    // (same lifecycle as the IVF index): only the shard side is scanned
    // per arrival.
    Q(
      "doc_dedup_incremental",
      (s, d) => {
        val cut = 250L
        val docs = T(s, d, "documents")
        // pairs come out doc_a < doc_b (sorted postings), so "has an
        // earlier near-dup" = appears as doc_b
        val losers = Dedup.tokenJaccardPairs(docs, threshold = 0.5)
          .filter(col("doc_b") >= cut)
          .select(col("doc_b").as("doc_id"))
          .distinct()
        docs
          .filter(col("doc_id") >= cut)
          .join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("lang"))
          .orderBy("doc_id")
      },
      Some("""
        WITH tok AS (
          SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM tok a JOIN tok b ON a.source = b.source AND a.term = b.term
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        p AS (
          SELECT doc_a, doc_b
          FROM inter
            JOIN sizes na ON inter.doc_a = na.doc_id
            JOIN sizes nb ON inter.doc_b = nb.doc_id
          WHERE c / (na.n + nb.n - c) >= 0.5
        )
        SELECT d.doc_id, d.source, d.lang
        FROM documents d
        WHERE d.doc_id >= 250
          AND NOT EXISTS (SELECT 1 FROM p WHERE p.doc_b = d.doc_id)
        ORDER BY d.doc_id
      """),
    ),
    // ----------------------------------------- deterministic per-group sample
    // Inspection sampling for a 100 TB corpus: k docs per source, chosen
    // by md5(doc_id) order — the same engine-portable determinism as the
    // train/val split (Dedup.splitColumn), so the sample is stable across
    // engines, runs, and corpus growth (a doc's rank only moves when docs
    // hash-before it arrive). One source exchange + window, no global
    // sort; the md5 tie falls back to doc_id so the order is total.
    Q(
      "doc_sample_per_source",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 10
        T(s, d, "documents")
          .withColumn("rk",
            row_number().over(Window.partitionBy(col("source"))
              .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
          .filter(col("rk") <= k)
          .select(col("source"), col("rk").cast("long").as("rk"), col("doc_id"))
          .orderBy(col("source"), col("rk"))
      },
      Some("""
        SELECT source, rk, doc_id FROM (
          SELECT source, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
          FROM documents
        ) WHERE rk <= 10 ORDER BY source, rk
      """),
    ),
    // --------------------------------------------------- TF-IDF top terms
    // Per-doc characteristic terms: rank by scaled-integer tf-idf
    // (tf * 1e6 * n_docs) DIV df — integer arithmetic end to end, because
    // tf * ln(N/df) differs between engines in the last ulp and a ranking
    // flip there would be an un-debuggable hash mismatch (the q15 lesson).
    // Monotone in tf * N/df, so the ranking is the tf-idf ranking.
    Q(
      "doc_tfidf_topk",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = T(s, d, "documents")
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(df, "term")
          .crossJoin(broadcast(n))
          .withColumn("score", expr("tf * 1000000L * n_docs DIV df"))
        scored
          .withColumn("rk",
            row_number().over(Window.partitionBy(col("doc_id"))
              .orderBy(col("score").desc, col("term"))))
          .filter(col("rk") <= 3 && col("doc_id") < 50)
          .select(col("doc_id"), col("rk").cast("long").as("rk"),
            col("term"), col("score"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some("""
        WITH tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
          ) GROUP BY 1, 2
        ),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf * 1000000 * n.n_docs // df.df AS score
          FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        )
        SELECT doc_id, rk, term, score FROM (
          SELECT doc_id, term, score,
                 CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, term) AS BIGINT) AS rk
          FROM scored
        ) WHERE rk <= 3 AND doc_id < 50 ORDER BY doc_id, rk
      """),
    ),
    // ------------------------------------------- token-window chunking
    // The step between curation and packing in an LLM pipeline: split
    // each doc's token stream into windows of W=64 tokens at stride
    // S=48 (16-token overlap so no boundary context is lost). Narrow —
    // one generator per doc, no shuffle beyond the output sort; chunk
    // count per doc is ceil(n/S), so output volume is bounded by
    // (1 + W/S) x input tokens at any corpus scale.
    Q(
      "doc_chunk_overlap",
      (s, d) => {
        val W = 64
        val S = 48
        T(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("start",
            explode(sequence(lit(0), size(col("toks")) - 1, lit(S))))
          .select(
            col("doc_id"),
            expr(s"start div $S").as("chunk_id"),
            least(lit(W), size(col("toks")) - col("start")).cast("long").as("n_tokens"),
            element_at(col("toks"), col("start") + 1).as("head_term"),
            element_at(col("toks"),
              least(col("start") + W, size(col("toks")))).as("tail_term"))
          .filter(col("doc_id") < 100)
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        s AS (
          SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 48)) AS start
          FROM t
        )
        SELECT doc_id,
               start // 48 AS chunk_id,
               CAST(LEAST(64, len(w) - start) AS BIGINT) AS n_tokens,
               w[start + 1] AS head_term,
               w[LEAST(start + 64, len(w))] AS tail_term
        FROM s WHERE doc_id < 100 ORDER BY doc_id, chunk_id
      """),
    ),
    // Chunking denominated in TRAINED-TOKENIZER tokens — the window/
    // stride that actually fills a model context. The stream is the
    // graft_bytebpe_segment_v3 ARRAY<STRING> (per-pre-token 32k-merge
    // FROZEN-table segmentation, order preserved), so head/tail are
    // SUBWORD tokens in the byte-mapped space (the GPT-2 visible-token
    // convention); the min-rank oracle replays the same table and rebuilds
    // each doc's stream by order-preserving flatten of per-pre-token
    // segmentations. Same narrow generator shape, pinned at 1 exchange.
    Q(
      "doc_chunk_overlap_bpe",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = T(s, d, "documents")
        val W = 64
        val S = 48
        docs
          .select(col("doc_id"),
            graft.functions.GraftFunctions.byteBpeSegmentV3(col("text")).as("toks"))
          // empty/whitespace-only text segments to an EMPTY token array
          // (unlike the whitespace variant, where split() yields [''])
          // and sequence(0, -1, S) throws — an empty doc has no chunks,
          // so filter it out; the oracle's stream CTE drops it the same
          // way (no word rows -> no stream row -> no chunks)
          .filter(size(col("toks")) > 0)
          .withColumn("start",
            explode(sequence(lit(0), size(col("toks")) - 1, lit(S))))
          .select(
            col("doc_id"),
            expr(s"start div $S").as("chunk_id"),
            least(lit(W), size(col("toks")) - col("start")).cast("long").as("n_tokens"),
            element_at(col("toks"), col("start") + 1).as("head_term"),
            element_at(col("toks"),
              least(col("start") + W, size(col("toks")))).as("tail_term"))
          .filter(col("doc_id") < 100)
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some(s"""
        WITH RECURSIVE ${ByteBpe.oracleApplyRanked("documents")},
        t AS (SELECT doc_id, regexp_extract_all(text, '${ByteBpe.PreTokPattern}') AS words
              FROM documents WHERE doc_id < 100),
        wpos AS (
          SELECT doc_id, unnest(words) AS word,
                 unnest(generate_series(1, len(words))) AS pos
          FROM t
        ),
        stream AS (
          SELECT doc_id, flatten(list(c.sym_list ORDER BY wpos.pos)) AS w
          FROM wpos JOIN syms c USING (word)
          GROUP BY doc_id
        ),
        st AS (
          SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 48)) AS start
          FROM stream
        )
        SELECT doc_id,
               start // 48 AS chunk_id,
               CAST(LEAST(64, len(w) - start) AS BIGINT) AS n_tokens,
               w[start + 1] AS head_term,
               w[LEAST(start + 64, len(w))] AS tail_term
        FROM st ORDER BY doc_id, chunk_id
      """),
    ),
    // ------------------------------------------------------- PII scrubbing
    // Regex masking of emails and phone-shaped strings. The synthetic
    // corpus carries no PII, so the query constructs a deterministic
    // PII-bearing corpus inline (every 5th doc gains an email, every
    // 7th a phone number) — both engines see the same text, and the
    // masked output + match counts are exact. The patterns stay inside
    // the common RE2/Java-regex subset (character classes + bounded
    // quantifiers, no lookaround) so both engines match identically.
    // The phone pattern is boundary-guarded by CONSUMING context
    // classes (`(^|[^0-9-]) ... ($|[^0-9-])`, restored via
    // backreference in the replacement) because lookaround is outside
    // the RE2 subset — so '1555-123-4567', a longer digit run, is NOT
    // partially masked. Narrow per-row kernel: no shuffle beyond the
    // output sort.
    Q(
      "doc_pii_scrub",
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "(^|[^0-9-])([0-9]{3}-[0-9]{3}-[0-9]{4})($|[^0-9-])"
        T(s, d, "documents")
          .withColumn("pii_text", concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(" call 555-123-4567"))
              .otherwise(lit(""))))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("pii_text"), lit(email), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("pii_text"), lit(phone), lit(0)))
              .cast("long").as("n_phones"),
            md5(regexp_replace(regexp_replace(col("pii_text"), email, "<EMAIL>"),
              phone, "$1<PHONE>$3")).as("masked_md5"))
          .filter(col("doc_id") % 5 === 0 || col("doc_id") % 7 === 0)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH pii AS (
          SELECT doc_id,
                 text ||
                 CASE WHEN doc_id % 5 = 0
                      THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
                 CASE WHEN doc_id % 7 = 0
                      THEN ' call 555-123-4567' ELSE '' END AS pii_text
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(pii_text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(pii_text,
                 '(^|[^0-9-])([0-9]{3}-[0-9]{3}-[0-9]{4})($|[^0-9-])')) AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(pii_text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '(^|[^0-9-])([0-9]{3}-[0-9]{3}-[0-9]{4})($|[^0-9-])', '\1<PHONE>\3', 'g')) AS masked_md5
        FROM pii
        WHERE doc_id % 5 = 0 OR doc_id % 7 = 0
        ORDER BY doc_id
      """),
    ),
    // --------------------------------------- HTML / boilerplate extraction
    // The missing FIRST stage of web-corpus curation: real corpora start
    // at markup, not clean text. The synthetic corpus has none, so the
    // query builds a deterministic page around each doc (the doc_pii_scrub
    // injection pattern): head with title/style/script, header + nav
    // chrome, the doc text as the main <div> with an inline-markup +
    // entity paragraph, and a footer. graft_html_extract (a codegen'd
    // narrow expression — comment strip, boilerplate-subtree removal,
    // block-tag newlines, tag strip, single-pass entity decode, whitespace
    // normalize) must recover EXACTLY the main content: the h1 line, the
    // untouched doc text, and the decoded trailing paragraph — which the
    // oracle states verbatim from the fixture algebra. Chrome leaking in
    // (title, nav items, footer) or text mangled by the tag strip fails
    // the full-string hash. Pinned at 1 exchange: the whole extraction is
    // a map-only pipeline; only the output sort shuffles.
    Q(
      "doc_html_extract",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val idStr = col("doc_id").cast("string")
        val html = concat(
          lit("<html><head><title>Site - Doc "), idStr,
          lit("</title><style>p{margin:0;}</style>" +
            "<script>var t=1<2&&4>3;track(\"u\");</script></head>" +
            "<body><!-- fixture chrome -->" +
            "<header><h1>SiteName</h1></header>" +
            "<nav><ul><li><a href=\"/\">Home</a></li>" +
            "<li><a href=\"/a\">About</a></li></ul></nav>" +
            "<div class=\"content\"><h1>Doc "), idStr,
          lit("</h1><p>"), col("text"),
          lit("</p><p>A <b>bold</b> move &amp; a &lt;tag&gt; &#39;quoted&#39;</p></div>" +
            "<footer><p>(c) fixture footer</p></footer></body></html>"))
        T(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.GraftFunctions.htmlExtract(html).as("extracted"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
               'Doc ' || doc_id || chr(10) || text || chr(10) ||
               'A bold move & a <tag> ''quoted''' AS extracted
        FROM documents ORDER BY doc_id
      """),
    ),
    // ------------------------------------------------ WARC/WET ingestion
    // The crawl intake stage: a foreign .warc.gz (ISO 28500 records, one
    // gzip member each — the Common Crawl convention) written by the
    // independent python WARC encoder around THIS scale's documents
    // corpus, read through the sidecar-indexed split path (executors
    // positioned-read + inflate only their member ranges), response
    // records HTTP-header-stripped, HTML boilerplate removed. The oracle
    // replays the page formula from the documents table — the WARC
    // framing, gzip membering, HTTP parse, and extraction all have to be
    // right for the hashes to meet.
    Q(
      "doc_warc_extract",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        graft.sources.WarcSource.read(s, warcFixture(d))
          .filter(col("warc_type") === "response")
          .select(col("url"),
            graft.functions.GraftFunctions.htmlExtract(col("body")).as("extracted"))
          .orderBy(col("url"))
      },
      Some("""
        WITH pages AS (
          SELECT 'https://' || source || '.example.org/doc/' || doc_id AS url,
                 'Doc ' || doc_id || chr(10) || text AS extracted
          FROM documents
          UNION ALL
          SELECT 'https://mirror.' || source || '.example.org/doc/' || doc_id,
                 'Doc ' || doc_id || chr(10) || text
          FROM documents WHERE doc_id % 10 = 0
        )
        SELECT url, extracted FROM pages ORDER BY url
      """),
    ),
    // INDEXED-STREAMING intake over range manifests: the corpus WARC
    // consumed through WarcSource.readStreamIndexed — a real streaming
    // query over the immutable `.ranges/<seq>.idx` manifest files (two
    // of them, covering every member), drained to a memory sink. The
    // micro-batch tasks positioned-read ONLY the members their
    // manifests name (whole-file size never bounds batch memory); the
    // drained output must hash-match the same page-formula oracle as
    // the batch intake. Staged-arrival incrementality and fail-loud
    // malformed manifests are WarcStreamIndexedSpec's half of the
    // contract.
    Q(
      "doc_warc_stream_manifest",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val dir = warcManifestFixture(d)
        val qn = "warc_manifest_" + java.util.UUID.randomUUID().toString.take(8)
        val q = graft.sources.WarcSource.readStreamIndexed(s, dir)
          .writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        s.table(qn)
          .filter(col("warc_type") === "response")
          .select(col("url"),
            graft.functions.GraftFunctions.htmlExtract(col("body")).as("extracted"))
          .orderBy(col("url"))
      },
      Some("""
        WITH pages AS (
          SELECT 'https://' || source || '.example.org/doc/' || doc_id AS url,
                 'Doc ' || doc_id || chr(10) || text AS extracted
          FROM documents
          UNION ALL
          SELECT 'https://mirror.' || source || '.example.org/doc/' || doc_id,
                 'Doc ' || doc_id || chr(10) || text
          FROM documents WHERE doc_id % 10 = 0
        )
        SELECT url, extracted FROM pages ORDER BY url
      """),
    ),
    // MULTI-FILE corpus intake: a crawl snapshot is tens of thousands of
    // .warc.gz files, not one — this gate reads a 3-shard foreign
    // snapshot (doc_id % 3) through the directory entry point, with
    // shard 1 deliberately sidecar-less: indexed files fan out BY MEMBER
    // SPAN, plain files run one sequential task each, and the union is
    // ONE DataFrame covering the whole corpus exactly once. The oracle
    // is the same full-corpus page formula as doc_warc_extract, so a
    // shard dropped, double-read, or mis-merged fails the hash; the
    // bench shape pin (warcMultiIntakeShape) holds the parallelism
    // evidence — both intake branches present, intake tasks >= files.
    Q(
      "doc_warc_multifile",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        graft.sources.WarcSource.readDir(s, warcMultiFixture(d))
          .filter(col("warc_type") === "response")
          .select(col("url"),
            graft.functions.GraftFunctions.htmlExtract(col("body")).as("extracted"))
          .orderBy(col("url"))
      },
      Some("""
        WITH pages AS (
          SELECT 'https://' || source || '.example.org/doc/' || doc_id AS url,
                 'Doc ' || doc_id || chr(10) || text AS extracted
          FROM documents
          UNION ALL
          SELECT 'https://mirror.' || source || '.example.org/doc/' || doc_id,
                 'Doc ' || doc_id || chr(10) || text
          FROM documents WHERE doc_id % 10 = 0
        )
        SELECT url, extracted FROM pages ORDER BY url
      """),
    ),
    // The WET sibling: Common Crawl ships each WARC's extracted text as
    // 'conversion' records with text/plain payloads — the intake most
    // training pipelines actually start from. Same member framing, same
    // sidecar-indexed split read; the oracle is the same page formula,
    // so the WARC(html)→extract path and the WET(plain) path must
    // converge on identical text.
    Q(
      "doc_wet_extract",
      (s, d) =>
        graft.sources.WarcSource.read(s, wetFixture(d))
          .filter(col("warc_type") === "conversion")
          .select(col("url"), col("body").as("extracted"))
          .orderBy(col("url")),
      Some("""
        WITH pages AS (
          SELECT 'https://' || source || '.example.org/doc/' || doc_id AS url,
                 'Doc ' || doc_id || chr(10) || text AS extracted
          FROM documents
          UNION ALL
          SELECT 'https://mirror.' || source || '.example.org/doc/' || doc_id,
                 'Doc ' || doc_id || chr(10) || text
          FROM documents WHERE doc_id % 10 = 0
        )
        SELECT url, extracted FROM pages ORDER BY url
      """),
    ),
    // WET EXPORT round-trip: the curated corpus re-emitted as WET
    // (conversion records, one gzip member each, per-partition files +
    // sidecars — WarcSource.writeWet) and read back through the
    // sequential multi-file path. Export is deterministic (no wall
    // clock, no RNG), so the oracle is the page formula again: framing,
    // membering, sidecars, and the read path must all invert the write.
    Q(
      "doc_wet_roundtrip",
      (s, d) => {
        val pages = T(s, d, "documents").select(
          concat(lit("https://"), col("source"), lit(".example.org/doc/"), col("doc_id")).as("url"),
          concat(lit("Doc "), col("doc_id"), lit("\n"), col("text")).as("text"))
          .repartition(4)
        val dir = wetExportDir
        graft.sources.WarcSource.writeWet(pages, dir)
        graft.sources.WarcSource.readDir(s, dir)
          .filter(col("warc_type") === "conversion")
          .select(col("url"), col("body").as("extracted"))
          .orderBy(col("url"))
      },
      Some("""
        SELECT 'https://' || source || '.example.org/doc/' || doc_id AS url,
               'Doc ' || doc_id || chr(10) || text AS extracted
        FROM documents ORDER BY url
      """),
    ),
    // Batch face of the STREAMING crawl intake (DocStreams.crawlIntake):
    // WARC records → response filter → html extraction → exactly-once
    // text-fingerprint dedup (the mirror pages are the real duplicates;
    // bounded within-watermark state on the streaming face, pinned
    // stream==batch by DocStreamsSpec over the binaryFile file stream) →
    // per-(hour, source) intake accounting. The oracle counts each page
    // once from the formula — exactly what dedup must reduce the
    // mirrored feed to.
    Q(
      "doc_stream_crawl",
      (s, d) =>
        graft.streaming.DocStreams.crawlIntake(
          graft.sources.WarcSource.read(s, warcFixture(d)))
          .select(
            col("window.start").cast("long").as("window_s"),
            col("source"), col("n_docs"), col("total_tokens"))
          .orderBy(col("window_s"), col("source")),
      Some("""
        WITH pages AS (
          SELECT doc_id, source,
                 len(string_split('Doc ' || doc_id || chr(10) || text, ' ')) AS n
          FROM documents
        )
        SELECT ((doc_id * 60 + 3600) // 3600) * 3600 AS window_s, source,
               COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
        FROM pages WHERE n >= 20
        GROUP BY 1, 2 ORDER BY window_s, source
      """),
    ),
    // The full crawl-to-corpus pipeline COMPOSED: warc → html extract →
    // quality filter → exact dedup (the fixture's mirror pages are real
    // byte-identical duplicates; keep the lexicographically-first URL) →
    // per-domain cap (Mixing.capPerBlock on the md5 order) → per-source
    // census. One oracle replays every stage from the documents table.
    // Scale shape: intake and extraction are map-only over member
    // ranges; dedup's keep-set broadcasts; the cap is ONE window
    // exchange on the source key.
    Q(
      "doc_pipeline_curate_v3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val pages = graft.sources.WarcSource.read(s, warcFixture(d))
          .filter(col("warc_type") === "response")
          .select(col("url"),
            regexp_extract(col("url"),
              "https://(?:mirror\\.)?([^.]+)\\.example\\.org/", 1).as("source"),
            graft.functions.GraftFunctions.htmlExtract(col("body")).as("text"))
        val scored = TextAnalysis.withQuality(pages).filter(col("quality_score") >= 0.5)
        val keep = Dedup.exactGroups(scored, idCol = "url").select(col("keep_id").as("url"))
        val kept = scored.join(broadcast(keep), Seq("url"), "left_semi")
        Mixing.capPerBlock(kept, cap = 40, idCol = "url", blockCol = "source")
          .withColumn("q_micro", round(col("quality_score") * 1000000L).cast("bigint"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            (sum(col("q_micro")) / (count(lit(1)) * 1000000.0)).as("avg_quality"),
          )
          .orderBy(col("source"))
      },
      Some("""
        WITH pages AS (
          SELECT 'https://' || source || '.example.org/doc/' || doc_id AS url,
                 source, 'Doc ' || doc_id || chr(10) || text AS xtext
          FROM documents
          UNION ALL
          SELECT 'https://mirror.' || source || '.example.org/doc/' || doc_id,
                 source, 'Doc ' || doc_id || chr(10) || text
          FROM documents WHERE doc_id % 10 = 0
        ), stats AS (
          SELECT url, source, xtext,
                 CAST(len(string_split(xtext, ' ')) AS BIGINT) AS n,
                 CAST(len(list_distinct(string_split(xtext, ' '))) AS BIGINT) AS dst,
                 CAST(len(list_filter(string_split(xtext, ' '), t -> t IN ('the', 'a'))) AS BIGINT) AS st
          FROM pages
        ), q AS (
          SELECT *, (5000 * dst + 30 * LEAST(n, 100) * n + 2000 * st) / (n * 10000.0) AS quality_score
          FROM stats
          WHERE (5000 * dst + 30 * LEAST(n, 100) * n + 2000 * st) / (n * 10000.0) >= 0.5
        ), keep AS (
          SELECT MIN(url) AS url FROM q GROUP BY md5(xtext)
        ), kept AS (
          SELECT * FROM q WHERE url IN (SELECT url FROM keep)
        ), ranked AS (
          SELECT kept.*, ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY md5(url), url) AS rk
          FROM kept
        )
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens,
               SUM(CAST(ROUND(quality_score * 1000000) AS BIGINT)) / (COUNT(*) * 1000000.0) AS avg_quality
        FROM ranked WHERE rk <= 40
        GROUP BY source ORDER BY source
      """),
    ),
    // ------------------------------------------------ trained-BPE tokenizer
    // Real subword tokenization: a merge table TRAINED on the corpus
    // (count-ordered, code-point tie-break, min pair count 2 — Bpe.train),
    // applied per word as a codegen'd narrow expression with the merges
    // frozen in as a plan constant. Two independent implementations meet
    // at the hash: Spark trains driver-side from one distributed
    // word-count agg (the collect is vocabulary-scale, fail-loud guarded);
    // the oracle REPLAYS THE FULL TRAINING in DuckDB — one materialized
    // stage pair per merge (best-pair argmax, then a separator-framed
    // replace() that IS the left-to-right merge pass) — then re-derives
    // every per-doc count. Nothing is shared but the corpus. Pinned at 1
    // exchange: application is map-only; only the output sort shuffles.
    Q(
      "doc_bpe_tokens",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = bpeGateCorpus(s, d)
        val model = Bpe.trainOnDocs(docs, numMerges = BpeMerges)
        docs
          .select(
            col("doc_id"),
            when(length(trim(col("text"))) === 0, lit(0L))
              .otherwise(size(split(trim(col("text")), " +")).cast("bigint"))
              .as("n_words"),
            graft.functions.GraftFunctions.bpeCount(col("text"), model).as("bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH ${Bpe.oracleStages(BpeMerges, bpeGateCorpusSql)}
        SELECT d.doc_id,
               CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(p.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
        FROM $bpeGateCorpusSql d LEFT JOIN bpe_per_doc p USING (doc_id)
        ORDER BY doc_id
      """),
    ),
    // ------------------------------------- byte-level frozen-BPE tokenizer
    // The APPLICATION-scale tokenizer (graft.text.ByteBpe): regex
    // pre-tokenization, 256-way byte base vocabulary, and a 4096-merge
    // table trained ONCE on a deterministic synthetic corpus and shipped
    // as a committed resource fixture — the production workflow (train on
    // a sample, freeze, apply as a plan constant). The oracle replays
    // APPLICATION of the same frozen table: framed byte symbols built
    // from hex(encode(word)) in SQL, then all 4096 merges as generated
    // nested-replace chains over materialized stages — the unrolled
    // TRAINING replay of doc_bpe_tokens caps at ~dozens of merges; a
    // frozen table needs no argmax stages, so thousands replay fine.
    // The gate corpus injects punctuation/digit/non-ASCII/double-space/
    // adjacency edge cases the plain corpus lacks. Pinned at 1 exchange:
    // application is map-only; only the output sort shuffles.
    Q(
      "doc_bpe_tokens_v2",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        byteBpeGateCorpus(s, d)
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"), lit(ByteBpe.PreTokPattern), lit(0)))
              .cast("bigint").as("n_pretokens"),
            graft.functions.GraftFunctions.byteBpeCount(col("text")).as("bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH ${ByteBpe.oracleApplyStages(byteBpeGateCorpusSql)}
        SELECT d.doc_id,
               CAST(COALESCE(p.n_pretokens, 0) AS BIGINT) AS n_pretokens,
               CAST(COALESCE(p.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
        FROM $byteBpeGateCorpusSql d LEFT JOIN bpe_per_doc p USING (doc_id)
        ORDER BY doc_id
      """),
    ),
    // The 32k-merge tier (merges_v3.tsv — trained once at production
    // vocabulary scale by ByteBpeTrainMain over the larger synthetic
    // corpus, Bpe.trainFast). The staged-replace oracle does not scale
    // to 32k merges (512 materialized stages ≈ 0.2 s of DuckDB planning
    // each); this oracle replays application as MIN-RANK iteration — a
    // recursive CTE that repeatedly merges each word's lowest-rank
    // adjacent pair, provably the same function as sequential replay
    // (see ByteBpe.oracleApplyRanked) with iteration count bounded by
    // word length, not table size. Same edge-case gate corpus, same
    // 1-exchange pin (map-only application + output sort).
    Q(
      "doc_bpe_tokens_v3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        byteBpeGateCorpus(s, d)
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"), lit(ByteBpe.PreTokPattern), lit(0)))
              .cast("bigint").as("n_pretokens"),
            graft.functions.GraftFunctions.byteBpeCountV3(col("text")).as("bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE ${ByteBpe.oracleApplyRanked(byteBpeGateCorpusSql)}
        SELECT d.doc_id,
               CAST(COALESCE(p.n_pretokens, 0) AS BIGINT) AS n_pretokens,
               CAST(COALESCE(p.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
        FROM $byteBpeGateCorpusSql d LEFT JOIN bpe_per_doc p USING (doc_id)
        ORDER BY doc_id
      """),
    ),
    // The LM-READY output: token-ID streams (ids 0..255 = byte base
    // vocabulary, 256+k = merge k — graft_bytebpe_ids, the id table a
    // plan constant derived from the frozen fixture, uniqueness
    // fail-loud-checked). The oracle rebuilds the SAME id table in SQL
    // (range(256) base ∪ the merge VALUES) and joins it against the
    // min-rank segmentation replay — ids, segmentation, and the vocab
    // derivation must all agree for the per-doc id sums to match.
    Q(
      "doc_bpe_ids_v3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        T(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.GraftFunctions.byteBpeIds(col("text")).as("ids"))
          .select(
            col("doc_id"),
            size(col("ids")).cast("bigint").as("n_toks"),
            expr("aggregate(ids, 0L, (a, x) -> a + x)").as("sum_ids"),
            expr("array_min(ids)").cast("bigint").as("min_id"),
            expr("array_max(ids)").cast("bigint").as("max_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE ${ByteBpe.oracleApplyRanked("documents")},
        vocab AS (
          SELECT b AS id, CASE WHEN b >= 33 AND b <= 126 THEN chr(CAST(b AS INT))
                               ELSE chr(CAST(256 + b AS INT)) END AS tok
          FROM range(256) t(b)
          UNION ALL
          SELECT 256 + rank, a || b FROM mergesv
        ),
        tokids AS (
          SELECT p.doc_id, v.id
          FROM pretok p
          JOIN syms s USING (word), LATERAL unnest(s.sym_list) u(tok)
          JOIN vocab v ON v.tok = u.tok
        ),
        per_doc AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
                 CAST(SUM(id) AS BIGINT) AS sum_ids,
                 CAST(MIN(id) AS BIGINT) AS min_id,
                 CAST(MAX(id) AS BIGINT) AS max_id
          FROM tokids GROUP BY doc_id
        )
        SELECT d.doc_id, COALESCE(p.n_toks, 0) AS n_toks,
               COALESCE(p.sum_ids, 0) AS sum_ids, p.min_id, p.max_id
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
        ORDER BY doc_id
      """),
    ),
    // The pipeline's END PRODUCT: GPT-style contiguous packing of the
    // actual token-ID streams — per source, docs in doc_id order,
    // each doc's v3 ids followed by the reserved EOS id (33024 = vocab
    // size, the first free id), the concatenated stream sliced into
    // 512-token sequences. Emitted as per-sequence exact-integer stats
    // (count / id sum / first / last via min_by/max_by on stream
    // position) so the hash pins the FULL id content and ordering of
    // every packed sequence. The oracle rebuilds the ordered stream
    // independently: min-rank segmentation replay → ordered per-doc
    // token lists → vocab join → EOS interleave → the same window
    // arithmetic.
    Q(
      "doc_pack_ids_v3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        import org.apache.spark.sql.expressions.Window
        val eos = 33024
        val toks = T(s, d, "documents")
          .select(col("source"), col("doc_id"),
            concat(graft.functions.GraftFunctions.byteBpeIds(col("text")),
              array(lit(eos))).as("ids"))
          .select(col("source"), col("doc_id"),
            posexplode(col("ids")).as(Seq("ti", "id")))
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"), col("ti"))
        toks
          .withColumn("pos", row_number().over(w))
          .withColumn("seq_id", expr("(pos - 1) div 512").cast("bigint"))
          .groupBy(col("source"), col("seq_id"))
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(col("id")).cast("bigint").as("sum_ids"),
            expr("min_by(id, pos)").cast("bigint").as("first_id"),
            expr("max_by(id, pos)").cast("bigint").as("last_id"))
          .orderBy(col("source"), col("seq_id"))
      },
      Some(s"""
        WITH RECURSIVE ${ByteBpe.oracleApplyRanked("documents")},
        vocab AS (
          SELECT b AS id, CASE WHEN b >= 33 AND b <= 126 THEN chr(CAST(b AS INT))
                               ELSE chr(CAST(256 + b AS INT)) END AS tok
          FROM range(256) t(b)
          UNION ALL
          SELECT 256 + rank, a || b FROM mergesv
        ),
        t AS (
          SELECT doc_id, regexp_extract_all(text, '${ByteBpe.PreTokPattern}') AS words
          FROM documents
        ),
        wpos AS (
          SELECT doc_id, unnest(words) AS word,
                 unnest(generate_series(1, len(words))) AS wp
          FROM t
        ),
        stream AS (
          SELECT doc_id, flatten(list(c.sym_list ORDER BY wpos.wp)) AS w
          FROM wpos JOIN syms c USING (word) GROUP BY doc_id
        ),
        -- every doc contributes its ordered ids then one EOS; docs with
        -- no pre-tokens contribute EOS alone
        doc_toks AS (
          SELECT d.doc_id, d.source, u.ti, v.id
          FROM documents d
          JOIN stream st ON st.doc_id = d.doc_id,
          LATERAL (SELECT unnest(st.w) AS tok,
                          unnest(generate_series(1, len(st.w))) AS ti) u
          JOIN vocab v ON v.tok = u.tok
          UNION ALL
          SELECT d.doc_id, d.source,
                 COALESCE(len(st.w), 0) + 1 AS ti, 33024 AS id
          FROM documents d LEFT JOIN stream st ON st.doc_id = d.doc_id
        ),
        posed AS (
          SELECT source, id,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id, ti) AS pos
          FROM doc_toks
        )
        SELECT source, (pos - 1) // 512 AS seq_id,
               COUNT(*) AS n_tokens, CAST(SUM(id) AS BIGINT) AS sum_ids,
               CAST(arg_min(id, pos) AS BIGINT) AS first_id,
               CAST(arg_max(id, pos) AS BIGINT) AS last_id
        FROM posed
        GROUP BY 1, 2 ORDER BY source, seq_id
      """),
    ),
    // Tokenizer QC: the two health ratios every tokenizer deployment
    // tracks per corpus slice — compression (bytes per token) and
    // fertility (tokens per pre-token/word), in exact per-mille integer
    // fixed point (summing doubles would be order-dependent). A
    // vocabulary mismatch, a segmentation drift, or a corpus shift all
    // move these first.
    Q(
      "doc_tokenizer_qc",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        T(s, d, "documents")
          .select(col("source"),
            octet_length(col("text")).cast("bigint").as("bytes"),
            size(regexp_extract_all(col("text"), lit(ByteBpe.PreTokPattern), lit(0)))
              .cast("bigint").as("pretoks"),
            graft.functions.GraftFunctions.byteBpeCountV3(col("text")).as("toks"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("bytes")).as("total_bytes"),
            sum(col("toks")).as("total_tokens"),
            expr("(sum(bytes) * 1000) div sum(toks)").as("bytes_per_tok_e3"),
            expr("(sum(toks) * 1000) div sum(pretoks)").as("fertility_e3"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH RECURSIVE ${ByteBpe.oracleApplyRanked("documents")},
        per AS (
          SELECT d.doc_id, d.source,
                 CAST(octet_length(encode(d.text)) AS BIGINT) AS bytes,
                 COALESCE(p.n_pretokens, 0) AS pretoks,
                 COALESCE(p.bpe_tokens, 0) AS toks
          FROM documents d LEFT JOIN bpe_per_doc p USING (doc_id)
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(bytes) AS BIGINT) AS total_bytes,
               CAST(SUM(toks) AS BIGINT) AS total_tokens,
               CAST(SUM(bytes) * 1000 // SUM(toks) AS BIGINT) AS bytes_per_tok_e3,
               CAST(SUM(toks) * 1000 // SUM(pretoks) AS BIGINT) AS fertility_e3
        FROM per GROUP BY source ORDER BY source
      """),
    ),
    // Tokenizer round-trip identity: segment → detokenize reproduces the
    // corpus byte-for-byte (pre-tokens partition the byte stream, merges
    // only concatenate, unmap inverts the byte map — so the composition
    // is the identity). The oracle is the corpus itself: any dropped
    // pre-token, mis-merged symbol, or unmap defect breaks the hash.
    Q(
      "doc_bpe_roundtrip_v3",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        T(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.GraftFunctions.byteBpeDetok(
              graft.functions.GraftFunctions.byteBpeSegmentV3(col("text"))).as("rebuilt"))
          .orderBy(col("doc_id"))
      },
      Some("SELECT doc_id, text AS rebuilt FROM documents ORDER BY doc_id"),
    ),
    // doc_token_budget re-denominated in TRAINED-TOKENIZER tokens — what a
    // real pipeline's "fill each domain to N tokens" actually meters. Same
    // strict-prefix window as doc_token_budget (2 exchanges); the token
    // column is the FROZEN byte-level tokenizer (ByteBpe), so budgets are
    // metered in the same tokens a production run ships.
    Q(
      "doc_token_budget_bpe",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = T(s, d, "documents")
        Mixing.tokenBudgetPerBlock(
          docs,
          tokens = graft.functions.GraftFunctions.byteBpeCountV3(col("text")),
          budget = 2500L)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_kept"),
            max(col("cum_toks")).as("tok_kept"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH RECURSIVE ${ByteBpe.oracleApplyRanked("documents")},
        t AS (
          SELECT d.doc_id, d.source, COALESCE(p.bpe_tokens, 0) AS toks
          FROM documents d LEFT JOIN bpe_per_doc p USING (doc_id)
        ),
        cum AS (
          SELECT source, toks,
                 SUM(toks) OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
          FROM t
        )
        SELECT source, COUNT(*) AS n_kept, CAST(MAX(cum_toks) AS BIGINT) AS tok_kept
        FROM cum WHERE cum_toks <= 2500 GROUP BY source ORDER BY source
      """),
    ),
    // ------------------------------------------- streaming corpus curation
    // Batch face of the streaming intake pipeline (DocStreams.curate):
    // the feed is the corpus re-delivered twice (at-least-once), the
    // pipeline is exactly-once exact dedup (keep first arrival) +
    // quality gate + per-(hour, source) intake rollup. The streaming
    // twin runs the state-bounded dropDuplicatesWithinWatermark;
    // DocStreamsSpec pins stream==batch parity and the state-operator
    // count under MemoryStream.
    Q(
      "doc_stream_curate",
      (s, d) => {
        val docs = T(s, d, "documents")
        graft.streaming.DocStreams.curate(docs.unionAll(docs))
          .select(
            col("window.start").cast("long").as("window_s"),
            col("source"),
            col("n_docs"),
            col("total_tokens"))
          .orderBy(col("window_s"), col("source"))
      },
      Some("""
        WITH feed AS (
          SELECT * FROM documents UNION ALL SELECT * FROM documents
        ),
        dd AS (
          SELECT doc_id, source, text,
                 ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                    ORDER BY doc_id) AS rn
          FROM feed
        ),
        cur AS (
          SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
          FROM dd WHERE rn = 1
        )
        SELECT (doc_id * 60 // 3600) * 3600 AS window_s, source,
               COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM cur WHERE n_tokens >= 20
        GROUP BY 1, 2 ORDER BY window_s, source
      """),
    ),
    // --------------------------------------------------- OOV-rate quality
    // Vocabulary-coverage quality signal: per-doc share of tokens
    // OUTSIDE the corpus's top-16 vocabulary (count desc, term
    // tie-break — a deterministic total order, so the cutoff is
    // engine-exact; 16 because the synthetic corpus has only 31 distinct
    // terms — a real corpus would use 1e5-ish). The vocabulary is a bounded broadcast at any corpus
    // scale; the corpus pays one doc_id exchange. Integer permille, not
    // a float ratio (the q15 lesson).
    Q(
      "doc_oov_stats",
      (s, d) => {
        val docs = T(s, d, "documents")
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term")).limit(16)
          .select(col("term"), lit(1).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("term"), "left")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_permille", expr("n_oov * 1000 div n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        c AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
        v AS (SELECT term FROM c ORDER BY cnt DESC, term LIMIT 16)
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(COUNT(*) FILTER (term NOT IN (SELECT term FROM v)) AS BIGINT) AS n_oov,
               CAST(COUNT(*) FILTER (term NOT IN (SELECT term FROM v)) AS BIGINT) * 1000
                 // COUNT(*) AS oov_permille
        FROM tok GROUP BY doc_id ORDER BY doc_id
      """),
    ),
    // -------------------------------------- quality-aware dedup survivors
    // Real pipelines do not keep the min-id duplicate — they keep the
    // BEST one. Same CC clusters as doc_dedup_corpus, but the survivor
    // per cluster is the longest doc (token count, doc_id tie-break).
    // The ranking runs over CLUSTERED docs only (≪ corpus), and the
    // loser list broadcasts into the anti-join, so the corpus still
    // crosses no shuffle beyond pair generation.
    Q(
      "doc_dedup_best",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = T(s, d, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        val clusters = Dedup.connectedComponents(
          Dedup.tokenJaccardPairs(docs, threshold = 0.5))
        val members = docs
          .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id")
          .select(col("doc_id"), col("cluster_rep"), col("n_tokens"))
        val losers = members
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("cluster_rep"))
              .orderBy(col("n_tokens").desc, col("doc_id"))))
          .filter(col("rk") > 1)
          .select(col("doc_id"))
        // explicit ids-only broadcast into the anti-join, shape-pinned —
        // see doc_dedup_corpus
        docs
          .join(broadcast(losers), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH RECURSIVE tok AS (
          SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM tok a JOIN tok b ON a.source = b.source AND a.term = b.term
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        p AS (
          SELECT doc_a, doc_b
          FROM inter
            JOIN sizes na ON inter.doc_a = na.doc_id
            JOIN sizes nb ON inter.doc_b = nb.doc_id
          WHERE c / (na.n + nb.n - c) >= 0.5
        ),
        e AS (SELECT doc_a AS s, doc_b AS d FROM p
              UNION SELECT doc_b, doc_a FROM p),
        reach(id, r) AS (
          SELECT s, s FROM e
          UNION
          SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
        ),
        comp AS (SELECT id, MIN(r) AS cluster_rep FROM reach GROUP BY id),
        m AS (
          SELECT d.doc_id, comp.cluster_rep,
                 len(string_split(d.text, ' ')) AS n_tokens
          FROM documents d JOIN comp ON d.doc_id = comp.id
        ),
        losers AS (
          SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cluster_rep
                     ORDER BY n_tokens DESC, doc_id) AS rk
            FROM m
          ) WHERE rk > 1
        )
        SELECT d.doc_id, d.source,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
        ORDER BY d.doc_id
      """),
    ),
    // ------------------------------------------------------ quality score
    Q(
      "doc_quality",
      (s, d) =>
        TextAnalysis.withQuality(T(s, d, "documents"))
          .select(col("doc_id"), col("n_tokens"), col("n_stopwords"), col("quality_score"))
          .orderBy(col("doc_id")),
      Some("""
        WITH c AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n,
                 len(list_distinct(string_split(text, ' '))) AS d,
                 len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS st
          FROM documents
        )
        SELECT doc_id, n AS n_tokens, st AS n_stopwords,
               (5000 * d + 30 * LEAST(n, 100) * n + 2000 * st) / (n * 10000.0) AS quality_score
        FROM c ORDER BY doc_id
      """),
    ),
    // ------------------------------------------------------- language ID
    // Confusion-matrix style rollup: tagged lang × predicted lang.
    Q(
      "doc_lang_id",
      (s, d) =>
        TextAnalysis.withLangId(T(s, d, "documents"))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred_lang")),
      Some("""
        WITH t AS (
          SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks FROM documents
        ), h AS (
          SELECT doc_id, lang,
                 len(list_intersect(toks, ['the','a','of','and','is'])) AS s_en,
                 len(list_intersect(toks, ['el','la','de','y','es'])) AS s_es,
                 len(list_intersect(toks, ['der','die','das','und','ist'])) AS s_de,
                 len(list_intersect(toks, ['le','la','de','et','est'])) AS s_fr,
                 len(list_intersect(toks, ['的','是','了','在','和'])) AS s_zh
          FROM t
        ), p AS (
          SELECT lang,
                 CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                      WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
                      WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
                      WHEN s_fr >= s_zh THEN 'fr'
                      ELSE 'zh' END AS pred_lang
          FROM h
        )
        SELECT lang, pred_lang, COUNT(*) AS n FROM p
        GROUP BY 1, 2 ORDER BY lang, pred_lang
      """),
    ),
    // ----------------------------------------------------- fingerprinting
    // fp64 is a native codegen'd Catalyst expression; with no collisions the
    // per-source distinct-fingerprint count equals the distinct-text count,
    // which DuckDB verifies independently of the hash function.
    Q(
      "doc_fingerprint",
      (s, d) =>
        TextAnalysis.withFingerprint(T(s, d, "documents"))
          .groupBy(col("source"))
          .agg(countDistinct(col("fp64")).as("n_distinct_fp"), count(lit(1)).as("n_docs"))
          .orderBy(col("source")),
      Some("""
        SELECT source, COUNT(DISTINCT text) AS n_distinct_fp, COUNT(*) AS n_docs
        FROM documents GROUP BY source ORDER BY source
      """),
    ),
    // --------------------------------------------------- bigram novelty
    // The integer-exact cousin of an n-gram-LM perplexity filter: per
    // doc, how many of its distinct bigrams exist NOWHERE else (corpus
    // df = 1). Counts only — no float summation order to knife-edge.
    // One exact bigram groupBy + re-join + per-doc rollup; the per-gram
    // aggregation state is one counter (no collect_list), so no
    // stop-bigram can blow task memory at corpus scale.
    Q(
      "doc_bigram_novelty",
      (s, d) => TextAnalysis.bigramNovelty(T(s, d, "documents")),
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bg AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(generate_series(1, len(w) - 1),
                        i -> array_to_string(w[i:i+1], ' '))) AS g
          FROM t
        ),
        df AS (SELECT g, COUNT(*) AS df FROM bg GROUP BY 1),
        per AS (
          SELECT doc_id, COUNT(*) AS n_bigrams,
                 SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_novel
          FROM bg JOIN df USING (g) GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(per.n_novel, 0) AS BIGINT) AS n_novel
        FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id
      """),
    ),
    // ------------------------------------------------- n-gram LM scoring
    // The CCNet/KenLM-family perplexity quality filter on a
    // corpus-trained add-one bigram model: score = Σ ln((c(ab)+1)/(c(a)+V))
    // over bigram OCCURRENCES (a language model, not a df table — the
    // counting cousin doc_bigram_novelty stays integer-exact; this is
    // the real log-probability). Fx e4 fixed point: both engines sum
    // identical exact-integer log ratios, only accumulation order
    // differs (~1e-13 abs error vs the 5e-5 half-boundary margin — the
    // entropy_e4 discipline).
    Q(
      "doc_lm_score",
      (s, d) => TextAnalysis.lmScore(T(s, d, "documents")),
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
        uni AS (SELECT tok, COUNT(*) AS ca FROM tok GROUP BY 1),
        v AS (SELECT COUNT(DISTINCT tok) AS v FROM tok),
        bg AS (
          SELECT doc_id,
                 w[i] AS tok,
                 w[i] || ' ' || w[i + 1] AS g
          FROM t, unnest(generate_series(1, len(w) - 1)) AS s(i)
        ),
        bi AS (SELECT g, COUNT(*) AS cab FROM bg GROUP BY 1),
        per AS (
          SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                 SUM(ln((bi.cab + 1)::DOUBLE / (uni.ca + v.v)::DOUBLE)) AS score
          FROM bg JOIN bi USING (g) JOIN uni USING (tok) CROSS JOIN v
          GROUP BY bg.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(CAST(ROUND(per.score * 10000) AS BIGINT), 0) AS BIGINT) AS score_e4
        FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id
      """),
    ),
    // ------------------------------------------------------ corpus mixing
    // Deterministic source-balanced downsampling (operators/Mixing): docs
    // rank inside their source by md5(doc_id) — the splitColumn order —
    // so the surviving set is a pure function of the data, replayable in
    // SQL. One window shuffle each.
    Q(
      "doc_cap_per_source",
      (s, d) =>
        Mixing.capPerBlock(T(s, d, "documents"), cap = 40)
          .select(col("doc_id"), col("source"))
          .orderBy(col("source"), col("doc_id")),
      Some("""
        WITH r AS (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents
        )
        SELECT doc_id, source FROM r WHERE rk <= 40 ORDER BY source, doc_id
      """),
    ),
    // ------------------------------------------------ domain-level curation
    // The crawl-side mixing key: raw URLs (formula-built with the junk a
    // crawler actually sees — mixed case, default port, tracking params,
    // fragments) are canonicalized and keyed by REGISTRABLE DOMAIN
    // (eTLD+1 via the PSL algorithm — 'example.co.uk' is one domain, not
    // 'co.uk'), a blocklisted domain is dropped, and the per-domain cap
    // rides the same one-window capPerBlock machinery as the source cap.
    // The oracle replays the canonical form and the capped window from
    // the formula — the canonicalizer and PSL walk must both be right
    // for the hashes to meet. Both expressions are codegen'd: at 100 TB
    // the URL column keys map-side and never shuffles to be normalized.
    Q(
      "doc_domain_caps",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        // two IDN arms: the raw-UTF-8 ccTLD (中国) and its published
        // punycode spelling (xn--fiqs8s) must key to the SAME registrable
        // domain — graft_reg_domain folds UTF-8 labels to ASCII (IDNA)
        // before the PSL walk, so both spellings of a crawl host dedupe
        // to one cap bucket
        val tld = expr(
          "CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' " +
            "WHEN 2 THEN 'io' WHEN 3 THEN 'org' WHEN 4 THEN '中国' " +
            "ELSE 'xn--fiqs8s' END")
        val raw = concat(
          lit("HTTPS://"), upper(col("source")), lit(".News.Example."), upper(tld),
          lit(":443/doc/"), col("doc_id"),
          lit("?utm_source=feed&id="), col("doc_id"), lit("&fbclid=abc#sec"))
        val urls = T(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.GraftFunctions.urlCanon(raw).as("url"))
          .withColumn("domain", graft.functions.GraftFunctions.regDomain(col("url")))
          .filter(col("domain") =!= "example.org") // blocklist
        Mixing.capPerBlock(urls, cap = 30, idCol = "doc_id", blockCol = "domain")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH urls AS (
          SELECT doc_id,
                 'https://' || source || '.news.example.' || tld || '/doc/' || doc_id
                   || '?id=' || doc_id AS url,
                 CASE WHEN tld IN ('中国', 'xn--fiqs8s') THEN 'example.xn--fiqs8s'
                      ELSE 'example.' || tld END AS domain
          FROM (
            SELECT doc_id, source,
                   CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                        WHEN 2 THEN 'io' WHEN 3 THEN 'org' WHEN 4 THEN '中国'
                        ELSE 'xn--fiqs8s' END AS tld
            FROM documents)
          WHERE tld <> 'org'
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM urls
        )
        SELECT doc_id, url, domain FROM ranked WHERE rk <= 30 ORDER BY doc_id
      """),
    ),
    Q(
      "doc_token_budget",
      (s, d) =>
        Mixing.tokenBudgetPerBlock(
          T(s, d, "documents"),
          tokens = size(split(col("text"), " ")), budget = 2000L)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_kept"),
            max(col("cum_toks")).as("tok_kept"))
          .orderBy(col("source")),
      Some("""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
          FROM documents
        ), c AS (
          SELECT source, toks,
                 SUM(toks) OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
          FROM t
        )
        SELECT source, COUNT(*) AS n_kept, CAST(MAX(cum_toks) AS BIGINT) AS tok_kept
        FROM c WHERE cum_toks <= 2000 GROUP BY source ORDER BY source
      """),
    ),
    // ------------------------------------------------ repetition signals
    // Gopher-family within-doc repetition filters (top-n-gram coverage,
    // duplicate-token fraction), integer-exact. A pure NARROW projection:
    // codegen'd max-term-count kernel per row, no explode, no shuffle —
    // at 100 TB this runs at scan speed. (The oracle explodes because
    // DuckDB has no per-row multiplicity kernel; counts agree exactly.)
    Q(
      "doc_repetition",
      (s, d) => TextAnalysis.repetitionSignals(T(s, d, "documents")),
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        tok AS (SELECT doc_id, unnest(w) AS term FROM t),
        tc AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        toks AS (
          SELECT doc_id, MAX(c) AS top_tok, SUM(c - 1) AS dup_tok
          FROM tc GROUP BY 1
        ),
        bg AS (
          SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                 i -> array_to_string(w[i:i+1], ' '))) AS g
          FROM t
        ),
        bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        bgs AS (SELECT doc_id, MAX(c) AS top_bg FROM bc GROUP BY 1)
        SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(toks.top_tok AS BIGINT) AS top_token_count,
               CAST(COALESCE(toks.dup_tok, 0) AS BIGINT) AS dup_token_occurrences,
               CAST(COALESCE(bgs.top_bg, 0) AS BIGINT) AS top_bigram_count
        FROM t LEFT JOIN toks USING (doc_id) LEFT JOIN bgs USING (doc_id)
        ORDER BY doc_id
      """),
    ),
    // ------------------------------------------------- text normalization
    // Canonicalization before any fingerprint/dedup: Unicode NFC (custom
    // codegen'd graft_nfc — Spark has no built-in normalizer; DuckDB's
    // nfc_normalize is the oracle twin), lowercase, collapse whitespace
    // runs, trim. Gated on the md5 of the normalized text per doc — the
    // cross-engine byte-equality proof; non-trivial composition cases
    // (combining marks, already-NFC fast path) are spec-covered with
    // Unicode fixtures. Narrow (no shuffle): scan → project → sort.
    Q(
      "doc_normalize",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val norm = trim(regexp_replace(
          lower(graft.functions.GraftFunctions.nfc(col("text"))), "[ \t\n\r\f]+", " "))
        T(s, d, "documents")
          .select(col("doc_id"), norm.as("norm"))
          .select(
            col("doc_id"),
            length(col("norm")).as("n_chars"),
            md5(col("norm").cast("binary")).as("fp"),
          )
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH n AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(nfc_normalize(text)), '[ \t\n\r\f]+', ' ', 'g')) AS norm
          FROM documents
        )
        SELECT doc_id, LENGTH(norm) AS n_chars, md5(norm) AS fp
        FROM n ORDER BY doc_id
      """),
    ),
    // --------------------------------------------------- sequence packing
    // LLM pre-training packing (text/SequencePacking): documents
    // concatenate in deterministic (source, doc_id) order and chop into
    // 512-token training sequences; each doc belongs to the pack holding
    // its first token, so assignment is one prefix-sum window per shard —
    // no iteration, per-task state bounded by the largest shard.
    Q(
      "doc_pack_sequences",
      (s, d) =>
        graft.text.SequencePacking.packSummary(
          T(s, d, "documents"),
          tokens = size(split(col("text"), " ")),
          seqLen = 512),
      Some("""
        WITH t AS (
          SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
          FROM documents
        ), st AS (
          SELECT source, doc_id, toks,
                 CAST(COALESCE(SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
          FROM t
        )
        SELECT source, start_tok // 512 AS pack_id, COUNT(*) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM st GROUP BY 1, 2 ORDER BY source, pack_id
      """),
    ),
    // Packing denominated in TRAINED-TOKENIZER tokens — what actually
    // fills a 512-token training sequence (whitespace counts undercount
    // ~2-3x, so whitespace-denominated packs overflow real context
    // windows). Same one-window prefix-sum shape; the token column is
    // the FROZEN byte-level tokenizer (ByteBpe), and the oracle replays
    // application of the same frozen table, then re-packs.
    Q(
      "doc_pack_sequences_bpe",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = T(s, d, "documents")
        graft.text.SequencePacking.packSummary(
          docs,
          tokens = graft.functions.GraftFunctions.byteBpeCountV3(col("text")),
          seqLen = 512)
      },
      Some(s"""
        WITH RECURSIVE ${ByteBpe.oracleApplyRanked("documents")},
        t AS (
          SELECT d.source, d.doc_id, CAST(COALESCE(p.bpe_tokens, 0) AS BIGINT) AS toks
          FROM documents d LEFT JOIN bpe_per_doc p USING (doc_id)
        ), st AS (
          SELECT source, doc_id, toks,
                 CAST(COALESCE(SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
          FROM t
        )
        SELECT source, start_tok // 512 AS pack_id, COUNT(*) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM st GROUP BY 1, 2 ORDER BY source, pack_id
      """),
    ),
    // First-fit-decreasing packing: whole docs bin-packed into 512-token
    // sequences (no doc ever splits — the instruction-tuning complement
    // of the contiguous chop above, which splits docs to achieve zero
    // padding). Deterministic FFD (toks DESC, md5 rank, doc_id) runs as
    // one codegen'd kernel per shard after a single collect_list
    // exchange; the oracle REPLAYS THE GREEDY SEQUENTIALLY in a DuckDB
    // recursive CTE carrying the bin-remainder list as row state — two
    // independent implementations of the same deterministic algorithm.
    // The per-bin `waste` column is the padding a bin ships; on this
    // corpus FFD's total waste undercuts in-order next-fit by ~3x
    // (SequencePackingSpec pins the comparison; PLANS.md records the
    // fixture numbers).
    Q(
      "doc_pack_sequences_ffd",
      (s, d) =>
        graft.text.SequencePacking.ffdPackSummary(
          T(s, d, "documents"),
          tokens = size(split(col("text"), " ")),
          seqLen = 512),
      Some("""
        WITH RECURSIVE ordered AS (
          SELECT source, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY len(string_split(text, ' ')) DESC,
                            md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents
        ),
        ffd AS (
          SELECT source, rn, doc_id, toks,
                 CAST(0 AS BIGINT) AS bin,
                 [512 - toks] AS rem
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.source, o.rn, o.doc_id, o.toks,
                 CAST(CASE WHEN COALESCE(fit.i, 0) = 0 THEN len(f.rem)
                           ELSE fit.i - 1 END AS BIGINT) AS bin,
                 CASE WHEN COALESCE(fit.i, 0) = 0 THEN list_append(f.rem, 512 - o.toks)
                      ELSE list_transform(range(1, len(f.rem) + 1),
                             j -> CASE WHEN j = fit.i THEN f.rem[j] - o.toks
                                       ELSE f.rem[j] END)
                 END AS rem
          FROM ffd f
          JOIN ordered o ON o.source = f.source AND o.rn = f.rn + 1
          CROSS JOIN LATERAL (
            SELECT list_position(list_transform(f.rem, r -> r >= o.toks), true) AS i) fit
        )
        SELECT source, bin, COUNT(*) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
               CAST(GREATEST(512 - SUM(toks), 0) AS BIGINT) AS waste
        FROM ffd GROUP BY 1, 2 ORDER BY source, bin
      """),
    ),
    // --------------------------------------------- similarity: exact top-k
    // Brute-force cosine top-k for a small broadcast query set — the
    // correctness baseline; the corpus side streams (never collected).
    Q(
      "emb_cosine_topk",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
          .orderBy(col("query_id"), col("rk"))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        s AS (
          -- mirrors the Spark expression tree exactly: sequential
          -- double dot products and IEEE sqrt/divide, so the raw
          -- doubles are bit-identical cross-engine (probed: 0/4990
          -- pairwise mismatches at sf0.01) — no ROUND needed.
          SELECT query_id, neighbor_id,
                 list_inner_product(qe, ce)
                   / (SQRT(list_inner_product(qe, qe)) * SQRT(list_inner_product(ce, ce))) AS cos_sim
          FROM q, c WHERE query_id <> neighbor_id
        ), r AS (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
          FROM s
        )
        SELECT query_id, neighbor_id, cos_sim, rk FROM r WHERE rk <= 5
        ORDER BY query_id, rk
      """),
    ),
    // ------------------------------------------------ similarity: LSH ANN
    // The scale path: bucketed random-hyperplane LSH. The planes are
    // deterministic ±1 sign matrices from splitmix64, i.e. plan CONSTANTS
    // — so the oracle replays the whole pipeline in DuckDB with the sign
    // matrices inlined as literal arrays (bucket bit p = dot(e, plane_p)
    // > 0, sequential double sums are bit-exact cross-engine per the
    // emb_cosine_topk probe), then the same bucket join, candidate dedup,
    // exact cosine, and rank. A full-strength value gate, not a recall
    // floor.
    Q(
      "emb_lsh_topk",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.lshTopK(emb, dim = 64, k = 5, queryFilter = col("vec_id") < 10, nPlanes = 4, nTables = 8)
          .orderBy(col("query_id"), col("rk"))
      },
      Some(lshTopkOracle(dim = 64, nPlanes = 4, nTables = 8, k = 5)),
    ),
    // --------------------------------------------- similarity: LSH recall
    // The LSH-quality gate the rows-only emb_lsh_topk can't give: recall@5
    // of the LSH path vs the exact path, per sampled query. Both paths are
    // deterministic (xxhash planes, id tie-breaks), so "every query meets
    // the floor" is a pure function of the data and the oracle asserts it
    // directly. Measured operating point (planes=4, tables=8, sf0.01):
    // per-query recall 0.4–1.0, mean 0.62 — floor 0.2 = "LSH finds at
    // least one true top-5 neighbor for every audited query".
    Q(
      "emb_lsh_recall",
      (s, d) =>
        Ann.lshRecallVsExact(
          T(s, d, "embeddings"), dim = 64, k = 5,
          queryFilter = col("vec_id") < 10, nPlanes = 4, nTables = 8,
          recallFloor = 0.2),
      Some("""
        SELECT vec_id AS query_id, true AS recall_floor_met
        FROM embeddings WHERE vec_id < 10 ORDER BY query_id
      """),
    ),
    // ------------------------------------------- similarity: MMR rerank
    // Diversity-aware rerank after retrieval: greedy Maximal-Marginal-
    // Relevance over each query's exact top-20, k=8 picks at λ=0.5 (equal
    // relevance/diversity weight — 0.5 and 1−0.5 are both exact doubles,
    // so the score arithmetic replays bit-identically). The oracle
    // unrolls all 8 greedy steps as chained CTEs (the gdReplayCtes
    // discipline): every pairwise cosine, running max-to-picked, argmax,
    // and tie-break is recomputed from scratch in DuckDB — one divergent
    // pick anywhere reorders the tail and breaks the hash.
    Q(
      "emb_mmr_rerank",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val cands = Ann.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 20)
        Ann.mmrRerank(cands, emb, k = 8, lam = 0.5)
          .orderBy(col("query_id"), col("mmr_rank"))
      },
      Some(s"""
        WITH ${mmrReplayCtes(nCand = 20, k = 8)}
        SELECT query_id, neighbor_id, mmr_rank, score AS mmr_score
        FROM sel8 ORDER BY query_id, mmr_rank
      """),
    ),
    // --------------------------------------------- similarity: IVF recall
    // The second ANN scale path: inverted-file with a deterministic
    // sample-trained k-means quantizer (no RNG — fixed sample, fixed
    // iterations, lowest-index tie-breaks), queries probe their nProbe
    // nearest lists. Candidates/query ≈ nProbe/nLists of the corpus.
    // Measured at (lists=16, probe=4, sf0.01): per-query recall@5
    // 0.6–1.0, mean 0.78 (vs 0.62 for LSH at its operating point —
    // IVF adapts to the data where hyperplanes can't). Floor 0.4.
    Q(
      "emb_ivf_recall",
      (s, d) =>
        Ann.ivfRecallVsExact(
          T(s, d, "embeddings"), dim = 64, k = 5,
          queryFilter = col("vec_id") < 10, nLists = 16, nProbe = 4,
          recallFloor = 0.4),
      Some("""
        SELECT vec_id AS query_id, true AS recall_floor_met
        FROM embeddings WHERE vec_id < 10 ORDER BY query_id
      """),
    ),
    // The recall CURVE, not just a floor: nProbe 8 must be per-query >=
    // nProbe 4 (candidate-superset theorem — see Ann.ivfRecallMonotonic)
    // AND find strictly more true neighbors in total. A quantizer
    // regression that flattens the curve passes a single floor; it
    // cannot pass this. (At sf0.01 mean recall is 0.78 @ probe 4; the
    // strict-gain bit is AnnSpec-verified and gated here.)
    Q(
      "emb_ivf_recall_curve",
      (s, d) =>
        Ann.ivfRecallMonotonic(
          T(s, d, "embeddings"), dim = 64, k = 5,
          queryFilter = col("vec_id") < 10, nLists = 16, nProbeLo = 4, nProbeHi = 8),
      Some("""
        SELECT vec_id AS query_id, true AS monotone_ok, true AS strict_gain
        FROM embeddings WHERE vec_id < 10 ORDER BY query_id
      """),
    ),
    // -------------------------------------------- persisted IVF index
    // Build-once / query-many: the quantizer and list assignments live on
    // disk (similarity/Ann.buildIvfIndex); queries partition-prune to
    // their probed list directories only. Same parameters as
    // emb_ivf_recall, same oracle-asserted recall floor — proving the
    // persisted path loses nothing vs the in-memory one (AnnSpec pins
    // bit-identical top-k output).
    Q(
      "emb_ivf_persisted",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        // keyed on the INPUT FILES' (path, size, mtime) fingerprint, not
        // just the directory name: regenerated test data at the same path
        // must invalidate the cached index, not silently reuse it. The
        // reuse gate checks lists/_SUCCESS — the LAST artifact
        // buildIvfIndex writes (centroids go first), so a crashed build
        // can never pass the check with stale centroids.
        val idx = sys.props("java.io.tmpdir") + "/graft_ivf/" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" + Ann.inputFingerprint(emb)
        if (!new java.io.File(s"$idx/lists/_SUCCESS").exists())
          Ann.buildIvfIndex(emb, dim = 64, nLists = 16, path = idx)
        Ann.recallVsExact(
          Ann.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5),
          Ann.ivfTopKFromIndex(s, idx, emb.filter(col("vec_id") < 10), k = 5, nProbe = 4),
          k = 5, recallFloor = 0.4)
      },
      Some("""
        SELECT vec_id AS query_id, true AS recall_floor_met
        FROM embeddings WHERE vec_id < 10 ORDER BY query_id
      """),
    ),
    // -------------------------------------- IVF index SHARD APPEND
    // The index-maintenance lifecycle: build on the first shard (even
    // vec_ids), APPEND the second (odd vec_ids) through the FROZEN
    // stored quantizer — no retraining, no rewrite of existing rows
    // (Ann.appendToIvfIndex; AnnSpec pins centroid immutability and
    // disk-assignment == independent recomputation). Queries then run
    // against the appended index exactly as against a monolithic one:
    // same pruning, same kernels, same recall floor vs exact brute
    // force over the FULL corpus. The _APPENDED marker makes the
    // non-idempotent append run once per data fingerprint.
    Q(
      "emb_ivf_appended",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val idx = sys.props("java.io.tmpdir") + "/graft_ivf_app/" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" + Ann.inputFingerprint(emb)
        if (!new java.io.File(s"$idx/_APPENDED").exists()) {
          // a partial build without the marker must rebuild from scratch,
          // never double-append
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete()
          }
          rm(new java.io.File(idx))
          Ann.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0), dim = 64, nLists = 16, path = idx)
          Ann.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), path = idx)
          new java.io.File(s"$idx/_APPENDED").createNewFile()
        }
        // nProbe 8, not the monolithic gates' 4: the shard-append
        // lifecycle keeps the quantizer trained on the FIRST shard
        // only, so later-shard neighbors scatter across more lists —
        // the standard IVF response is probing more of them (the
        // recall/cost dial emb_ivf_recall_curve pins as monotone), and
        // at probe 8 the appended index holds the same 0.4 floor as
        // every other index gate at both harness scales
        Ann.recallVsExact(
          Ann.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5),
          Ann.ivfTopKFromIndex(s, idx, emb.filter(col("vec_id") < 10), k = 5, nProbe = 8),
          k = 5, recallFloor = 0.4)
      },
      Some("""
        SELECT vec_id AS query_id, true AS recall_floor_met
        FROM embeddings WHERE vec_id < 10 ORDER BY query_id
      """),
    ),
    // --------------------------- IVF COMPACTION + TOMBSTONE DELETE
    // The rest of the index lifecycle: after build + append, DELETE a
    // known id set (Ann.deleteFromIvfIndex — O(deletes) tombstone
    // parquet, no list rewrite) and COMPACT (Ann.compactIvfIndex —
    // tombstones folded in, appended small files merged to ONE file per
    // list under the FROZEN quantizer, swap-by-rename publish). The
    // gate then queries the compacted index and asserts, per query:
    // the same 0.4 recall floor vs exact brute force over the LIVE
    // corpus (compaction lost nothing), and that no deleted id ever
    // surfaces as a neighbor (deletes are really gone, not just
    // demoted). Shape-pinned to the same partition-pruned lists scan
    // as every other index gate — compaction must not break pruning.
    Q(
      "emb_ivf_compacted",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val idx = sys.props("java.io.tmpdir") + "/graft_ivf_cmp/" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" + Ann.inputFingerprint(emb)
        val deletedPred = col("vec_id") % 17 === 3
        if (!new java.io.File(s"$idx/_COMPACTED").exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete()
          }
          rm(new java.io.File(idx))
          Ann.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0), dim = 64, nLists = 16, path = idx)
          Ann.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), path = idx)
          Ann.deleteFromIvfIndex(emb.filter(deletedPred).select(col("vec_id")), idx)
          Ann.compactIvfIndex(s, idx)
          new java.io.File(s"$idx/_COMPACTED").createNewFile()
        }
        val queries = emb.filter(col("vec_id") < 10 && col("vec_id") % 17 =!= 3)
        val approx = Ann.ivfTopKFromIndex(s, idx, queries, k = 5, nProbe = 8)
        val live = emb.filter(col("vec_id") % 17 =!= 3)
        Ann.recallVsExact(
          Ann.bruteForceTopK(queries, live, k = 5), approx, k = 5, recallFloor = 0.4)
          .join(
            approx.groupBy(col("query_id"))
              .agg((sum((col("neighbor_id") % 17 === 3).cast("int")) === 0)
                .as("deleted_absent")),
            "query_id")
          .select(col("query_id"), col("recall_floor_met"), col("deleted_absent"))
          .orderBy(col("query_id"))
      },
      Some("""
        SELECT vec_id AS query_id, true AS recall_floor_met, true AS deleted_absent
        FROM embeddings WHERE vec_id < 10 AND vec_id % 17 <> 3 ORDER BY query_id
      """),
    ),
    // ------------------------------- SQ8-quantized persisted IVF index
    // ----------------------- TWO-LEVEL (IVF-in-IVF) persisted index
    // The ROUTING-scale variant: flat assignment is n·kTotal·dim flops
    // — quadratic in n once nLists grows proportionally (the SemDeDup
    // contract) — so past ~1e5 lists production indexes put ~√kTotal
    // coarse cells in front of per-cell fine lists sized by MEASURED
    // cell population (Ann.buildIvfIndexTwoLevel). Assignment and
    // query routing both drop to ~2·√kTotal distances (codegen'd
    // graft_nearest_centroid2 / graft_probe_lists2 kernels, quantizer
    // as plan constants). The stored layout keeps GLOBAL fine list ids,
    // so the partition-pruned scan, kernels, and tie-breaks are the
    // flat index's, unchanged — and the gate holds the same recall
    // floor vs exact brute force, shape-pinned to the same pruned scan
    // (probing 3 cells x 4 lists — the same recall/cost dial as the
    // appended gate's probe-8; small-corpus cells are few and coarse, so
    // the cell dial sits one notch wider than the flat probe count).
    Q(
      "emb_ivf_2level",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val idx = sys.props("java.io.tmpdir") + "/graft_ivf_2l/" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" + Ann.inputFingerprint(emb)
        if (!new java.io.File(s"$idx/lists/_SUCCESS").exists())
          Ann.buildIvfIndexTwoLevel(emb, dim = 64, kTotal = 16, path = idx,
            targetPerList = math.max(1L, emb.count() / 16L))
        Ann.recallVsExact(
          Ann.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5),
          Ann.ivfTopKFromIndex2(s, idx, emb.filter(col("vec_id") < 10),
            k = 5, nCells = 3, nPerCell = 4),
          k = 5, recallFloor = 0.4)
      },
      Some("""
        SELECT vec_id AS query_id, true AS recall_floor_met
        FROM embeddings WHERE vec_id < 10 ORDER BY query_id
      """),
    ),
    // The storage-scale variant of emb_ivf_persisted: list rows carry
    // one-byte-per-component SQ8 codes (+ per-vector lo/hi and the
    // dequantized norm) — 8× smaller than the ARRAY<DOUBLE> lists, the
    // difference between page-cache-resident probes and disk-bound ones
    // at 100 TB. Search fuses dequantize+dot in one codegen'd kernel
    // (graft_sq8_dot); same probe/prune/rank shape, shape-pinned to the
    // same partition-pruned scan. The gate holds the quantized path to
    // the SAME recall floor vs exact float brute force as the float
    // index — quantization error must not eat the recall budget.
    Q(
      "emb_ivf_sq8_recall",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val idx = sys.props("java.io.tmpdir") + "/graft_ivf_sq8/" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" + Ann.inputFingerprint(emb)
        if (!new java.io.File(s"$idx/lists/_SUCCESS").exists())
          Ann.buildIvfIndexSq8(emb, dim = 64, nLists = 16, path = idx)
        Ann.recallVsExact(
          Ann.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5),
          Ann.ivfTopKFromIndexSq8(s, idx, emb.filter(col("vec_id") < 10), k = 5, nProbe = 4),
          k = 5, recallFloor = 0.4)
      },
      Some("""
        SELECT vec_id AS query_id, true AS recall_floor_met
        FROM embeddings WHERE vec_id < 10 ORDER BY query_id
      """),
    ),
    // -------------------------------- PQ-quantized persisted IVF index
    // The compression step PAST SQ8: product quantization (Jégou et al.,
    // "Product Quantization for Nearest Neighbor Search", TPAMI 2011)
    // stores each list row as m=32 code bytes + the reconstruction norm
    // — 16× smaller than ARRAY<DOUBLE>, 2× smaller than SQ8 — and
    // search is ADC: one m·ksub lookup table per QUERY (graft_pq_lut,
    // computed before the join), then every candidate scores in m=32
    // table adds (graft_pq_adc_dot) instead of a 64-component dot.
    // PqSpec pins ADC == explicit-reconstruction dot bit-exactly; the
    // approximation is purely reconstruct(code) ≈ vec. The gate runs
    // the full production shape INCLUDING the refine step (Jégou §V):
    // ADC ranks a 4k-deep shortlist, exact cosine over key-fetched full
    // vectors re-ranks it — PQ error only costs recall when it pushes a
    // true neighbor out of the shortlist. Operating point measured on
    // the near-isotropic harness embeddings (PQ's worst case): m=32
    // rf=4 → min/mean recall@5 = 0.6/0.82 at sf0.1 (m=16 rf=4 bottoms
    // at 0.2 — the coarser code needs a 20-deep-per-k shortlist to
    // recover). Same 0.4 floor as the float and SQ8 indexes.
    Q(
      "emb_ivf_pq_recall",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val idx = sys.props("java.io.tmpdir") + "/graft_ivf_pq/" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" + Ann.inputFingerprint(emb)
        if (!new java.io.File(s"$idx/lists/_SUCCESS").exists())
          Ann.buildIvfIndexPq(emb, dim = 64, nLists = 16, m = 32, ksub = 16, path = idx)
        Ann.recallVsExact(
          Ann.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5),
          Ann.ivfTopKFromIndexPq(s, idx, emb.filter(col("vec_id") < 10), k = 5, ksub = 16,
            nProbe = 4, refineWith = Some(emb)),
          k = 5, recallFloor = 0.4)
      },
      Some("""
        SELECT vec_id AS query_id, true AS recall_floor_met
        FROM embeddings WHERE vec_id < 10 ORDER BY query_id
      """),
    ),
    // ------------------------------------- embedding near-dup via LSH
    // Corpus ∪ an exact copy: identical vectors agree on every hyperplane
    // sign, so LSH recall at cos=1 is exact and the verified output
    // (threshold 0.999 ≫ the originals' max pairwise cos of 0.51) is
    // hash-independent. The crossJoin baseline stays out of the gate.
    Q(
      "emb_lsh_dedup",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.unionByName(emb.withColumn("vec_id", col("vec_id") + DupOffset))
        Dedup.embeddingLshDupPairs(corpus, dim = 64)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""
        SELECT vec_id AS id_a, vec_id + $DupOffset AS id_b
        FROM embeddings ORDER BY id_a, id_b
      """),
    ),
    // --------------------------- STREAMING semantic dedup vs the index
    // The production intake shape: an arriving vector shard streams
    // against the PERSISTED IVF index with ZERO streaming state —
    // plan-constant centroid routing, a stateless stream-static join to
    // the stored lists, per-row cosine filter
    // (streaming/EmbeddingStreams.dedupAgainstIndex;
    // EmbeddingStreamsSpec proves stream==batch under MemoryStream and
    // pins stateOperators == 0). This is the batch face: arrivals = an
    // exact copy of the corpus under shifted ids, index = the corpus —
    // identical vectors route to the identical list (assignment is a
    // pure function of the vector), so every arrival flags exactly its
    // original at cos = 1 ≫ the originals' max pairwise 0.51.
    Q(
      "emb_stream_dedup",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val idx = sys.props("java.io.tmpdir") + "/graft_ivf/" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" + Ann.inputFingerprint(emb)
        if (!new java.io.File(s"$idx/lists/_SUCCESS").exists())
          Ann.buildIvfIndex(emb, dim = 64, nLists = 16, path = idx)
        graft.streaming.EmbeddingStreams.dedupAgainstIndex(
            emb.withColumn("vec_id", col("vec_id") + DupOffset), s, idx, threshold = 0.999)
          .select(col("vec_id"), col("dup_id"))
          .orderBy(col("vec_id"), col("dup_id"))
      },
      Some(s"""
        SELECT vec_id + $DupOffset AS vec_id, vec_id AS dup_id
        FROM embeddings ORDER BY vec_id, dup_id
      """),
    ),
    // -------------------------------- semantic (embedding-cluster) dedup
    // SemDeDup-style within-centroid cosine pruning reusing the IVF
    // quantizer (Ann.trainCentroids — deterministic, no RNG). Identical
    // vectors assign to the same centroid (assignment is a pure function
    // of the vector), so recall at cos=1 is exact and the verified output
    // on the duplicate-injected corpus is centroid-independent: exactly
    // the injected pairs (threshold 0.999 ≫ the originals' max pairwise
    // cos of 0.51). Sub-threshold recall/precision vs brute force is
    // DedupSpec-measured (cluster-boundary loss, the documented SemDeDup
    // approximation).
    Q(
      "emb_semantic_dedup",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.unionByName(emb.withColumn("vec_id", col("vec_id") + DupOffset))
        // nLists deliberately NOT pinned: the gate exercises the default
        // corpus-derived quantizer size (Dedup.semanticNLists — the
        // SemDeDup scale contract), and the verified output is
        // centroid-count-independent on this fixture
        Dedup.semanticDupPairs(corpus, dim = 64, threshold = 0.999)
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""
        SELECT vec_id AS id_a, vec_id + $DupOffset AS id_b
        FROM embeddings ORDER BY id_a, id_b
      """),
    ),
    // The TWO-LEVEL (IVF-in-IVF) twin of emb_semantic_dedup — the
    // production quantizer shape for the >1e5-list regime where flat
    // proportional-nLists assignment goes quadratic (PLANS.md named it;
    // this round ships it). sqrt(kTotal) coarse cells, per-cell fine
    // lists sized from each cell's measured population, the whole
    // hierarchical assignment one codegen'd expression with the
    // quantizer as plan constants. Identical vectors share a fine list
    // (deterministic tie-breaks at both levels), so the verified output
    // on the duplicate-injected corpus is the SAME oracle as the flat
    // path — quantizer topology cannot change it.
    Q(
      "emb_semantic_dedup_2level",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.unionByName(emb.withColumn("vec_id", col("vec_id") + DupOffset))
        Dedup.semanticDupPairsTwoLevel(corpus, dim = 64, threshold = 0.999)
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""
        SELECT vec_id AS id_a, vec_id + $DupOffset AS id_b
        FROM embeddings ORDER BY id_a, id_b
      """),
    ),
    // Asymmetric containment dedup: |A∩B|/|A| ≥ 0.9 finds SUB-document
    // duplication symmetric Jaccard misses at large size ratios
    // (quote-heavy pages, concatenated dumps). Fixture: every doc plus a
    // prefix-half copy — each half's token set is contained in its
    // original with containment exactly 1. Same posting-list machinery
    // as doc_jaccard_pairs; the oracle recomputes every directed pair
    // exactly in SQL.
    Q(
      "doc_containment_pairs",
      (s, d) =>
        Dedup.tokenContainmentPairs(containmentCorpus(s, d), threshold = 0.9)
          .orderBy(col("doc_sub"), col("doc_sup")),
      Some(containmentPairsOracle),
    ),
    // The PREFIX-FILTERED containment twin, gated against the IDENTICAL
    // oracle — the asymmetric mirror of the doc_jaccard_pairs/ppjoin
    // pattern: the sub side probes only its n − ⌈t·n⌉ + 1 rarest tokens
    // (the prefix theorem applies one-sidedly because the required
    // overlap ⌈t·n_sub⌉ depends only on the sub's size), the sup side
    // indexes in full, and a n_sup ≥ ⌈t·n_sub⌉ size filter prunes before
    // the array-shipping verify join. Lossless — same pairs every round,
    // so neither strategy can silently rot.
    Q(
      "doc_containment_pairs_prefix",
      (s, d) =>
        Dedup.tokenContainmentPairsPrefix(containmentCorpus(s, d), threshold = 0.9)
          .orderBy(col("doc_sub"), col("doc_sup")),
      Some(containmentPairsOracle),
    ),
    // The COST-BASED chooser over the two containment strategies: one
    // cheap stats pass (sizes agg + df histogram-of-histogram) estimates
    // each strategy's candidate volume — Σ C(min(df,cap),2) counted
    // co-occurrences vs prefix-mass × (df−1) index probes — and runs the
    // smaller one. Gated against the IDENTICAL oracle as both fixed
    // strategies: the chooser can change cost, never results. The bench
    // checks its verdict against the measured winner on both crossover
    // corpora (containment_auto_*_picked probes).
    Q(
      "doc_containment_pairs_auto",
      (s, d) =>
        Dedup.tokenContainmentPairsAuto(containmentCorpus(s, d), threshold = 0.9)
          .orderBy(col("doc_sub"), col("doc_sup")),
      Some(containmentPairsOracle),
    ),
    // The containment chooser from PERSISTED ANALYZE statistics — the
    // doc_jaccard_pairs_stats pattern on the containment corpus: stored
    // histograms replace the per-call stats pass, identical oracle.
    Q(
      "doc_containment_pairs_stats",
      (s, d) => {
        val docs = containmentCorpus(s, d)
        val statsDir = sys.props("java.io.tmpdir") + "/graft_constats/" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          graft.similarity.Ann.inputFingerprint(docs)
        if (!new java.io.File(s"$statsDir/_SUCCESS").exists())
          Dedup.analyzeTokenStats(docs, statsDir)
        Dedup.tokenContainmentPairsAuto(docs, threshold = 0.9, statsDir = Some(statsDir))
          .orderBy(col("doc_sub"), col("doc_sup"))
      },
      Some(containmentPairsOracle),
    ),
    // The round's curation stages COMPOSED end-to-end: model-based
    // quality filter (hashed linear scorer ≥ 0) → exact dedup
    // (keep-first by md5 text group) → temperature-balanced language
    // mixing over the survivors — one pipeline, one oracle replaying
    // every stage. Output: per-language census through the funnel.
    Q(
      "doc_pipeline_curate_v2",
      (s, d) => {
        val docs = T(s, d, "documents")
        val quality = TextAnalysis.modelScore(docs)
          .filter(col("quality_pass") === 1L).select(col("doc_id"))
        val qdocs = docs.join(broadcast(quality), Seq("doc_id"), "left_semi")
        val keep = Dedup.exactGroups(qdocs).select(col("keep_id").as("doc_id"))
        val deduped = qdocs.join(keep, Seq("doc_id"), "left_semi")
        Mixing.temperatureSample(deduped, budget = 150)
          .join(qdocs.groupBy(col("lang")).agg(count(lit(1)).as("n_quality")), Seq("lang"))
          .select(col("lang"), col("n_quality"), col("n_docs").as("n_dedup"),
            col("n_target"), col("n_kept"))
          .orderBy(col("lang"))
      },
      Some("""
        WITH scored AS (
          SELECT doc_id,
                 CAST(list_sum(list_transform(string_split(text, ' '),
                   t -> ((CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1024)
                           * 1103515245 + 12345) % 2001 - 1000)) AS BIGINT) AS sum_w_e3,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents
        ), q AS (
          SELECT d.* FROM documents d JOIN scored s ON d.doc_id = s.doc_id
          WHERE (s.sum_w_e3 * 1000) // s.n_tokens >= 0
        ), dd AS (
          SELECT * FROM q WHERE doc_id IN (
            SELECT MIN(doc_id) FROM q GROUP BY md5(text))
        ), counts AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_dedup,
                 CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS weight
          FROM dd GROUP BY 1
        ), tot AS (SELECT SUM(weight) AS tw FROM counts),
        targets AS (
          SELECT lang, n_dedup, LEAST((150 * weight) // tw, n_dedup) AS n_target
          FROM counts, tot
        ), ranked AS (
          SELECT lang, ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM dd
        ), kept AS (
          SELECT r.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
          FROM ranked r JOIN targets t USING (lang)
          WHERE r.rk <= t.n_target GROUP BY 1
        ), nq AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_quality FROM q GROUP BY 1
        )
        SELECT t.lang, nq.n_quality, t.n_dedup,
               CAST(t.n_target AS BIGINT) AS n_target,
               COALESCE(k.n_kept, 0) AS n_kept
        FROM targets t JOIN nq USING (lang) LEFT JOIN kept k USING (lang)
        ORDER BY lang
      """),
    ),
    // Temperature-balanced language mixing (mT5/XLM-R α=0.5): each
    // language's share of the budget ∝ floor(sqrt(n)) — integer-exact
    // throughout (one IEEE sqrt per block, never a float SUM), head
    // flattened so low-resource languages survive. The harness lang
    // distribution is genuinely skewed (en 218 … fr 64 at sf0.01).
    Q(
      "doc_temperature_mix",
      (s, d) => Mixing.temperatureSample(T(s, d, "documents"), budget = 250)
        .orderBy("lang"),
      Some("""
        WITH counts AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS weight
          FROM documents GROUP BY 1
        ), tot AS (SELECT SUM(weight) AS tw FROM counts),
        targets AS (
          SELECT lang, n_docs, weight,
                 LEAST((250 * weight) // tw, n_docs) AS n_target
          FROM counts, tot
        ), ranked AS (
          SELECT lang,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents
        ), kept AS (
          SELECT r.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
          FROM ranked r JOIN targets t USING (lang)
          WHERE r.rk <= t.n_target GROUP BY 1
        )
        SELECT t.lang, t.n_docs, t.weight, CAST(t.n_target AS BIGINT) AS n_target,
               COALESCE(k.n_kept, 0) AS n_kept
        FROM targets t LEFT JOIN kept k USING (lang)
        ORDER BY lang
      """),
    ),
    // Temperature mixing keyed by REGISTRABLE DOMAIN — the crawl-side
    // mixing composition: formula URLs → codegen'd canonicalize + PSL
    // key (map-side, no shuffle to key), then the integer-exact α=0.5
    // temperature allocation over domains instead of languages. Same
    // window shape as doc_temperature_mix; the oracle re-derives the
    // domain from the URL formula and replays the allocation.
    Q(
      "doc_domain_temperature_mix",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val tld = expr(
          "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' " +
            "WHEN 2 THEN 'io' ELSE 'org' END")
        val raw = concat(
          lit("HTTPS://"), upper(col("source")), lit(".News.Example."), upper(tld),
          lit(":443/doc/"), col("doc_id"), lit("#frag"))
        val keyed = T(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.GraftFunctions.regDomain(
              graft.functions.GraftFunctions.urlCanon(raw)).as("domain"))
        Mixing.temperatureSample(keyed, budget = 120, blockCol = "domain")
          .orderBy("domain")
      },
      Some("""
        WITH keyed AS (
          SELECT doc_id,
                 'example.' || CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'com'
                   WHEN 1 THEN 'co.uk' WHEN 2 THEN 'io' ELSE 'org' END AS domain
          FROM documents
        ), counts AS (
          SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS weight
          FROM keyed GROUP BY 1
        ), tot AS (SELECT SUM(weight) AS tw FROM counts),
        targets AS (
          SELECT domain, n_docs, weight,
                 LEAST((120 * weight) // tw, n_docs) AS n_target
          FROM counts, tot
        ), ranked AS (
          SELECT domain,
                 ROW_NUMBER() OVER (PARTITION BY domain
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM keyed
        ), kept AS (
          SELECT r.domain, CAST(COUNT(*) AS BIGINT) AS n_kept
          FROM ranked r JOIN targets t USING (domain)
          WHERE r.rk <= t.n_target GROUP BY 1
        )
        SELECT t.domain, t.n_docs, t.weight, CAST(t.n_target AS BIGINT) AS n_target,
               COALESCE(k.n_kept, 0) AS n_kept
        FROM targets t LEFT JOIN kept k USING (domain)
        ORDER BY domain
      """),
    ),
    // The curation ACTION on the containment detector: drop every doc
    // whose token set is ≥0.9 contained in a doc with STRICTLY more
    // tokens (equal sizes keep the smaller id) — dedupe the fragments,
    // keep the supersets. Exclusion list is doc ids only → broadcast
    // anti-join (the dedup-survivor discipline); output is the
    // per-source census.
    Q(
      "doc_containment_dedup",
      (s, d) => {
        val docs = T(s, d, "documents")
        val halves = docs.select(
          (col("doc_id") + lit(2 * DupOffset)).as("doc_id"),
          expr("array_join(slice(split(text, ' '), 1, (size(split(text, ' ')) + 1) div 2), ' ')").as("text"),
          col("source"))
        val corpus = docs.select(col("doc_id"), col("text"), col("source")).unionByName(halves)
        val sizes = corpus.select(col("doc_id"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n"))
        // the ACTION rides the chooser — the production entry point —
        // so the curation path exercises the same route users run
        val drop = Dedup.tokenContainmentPairsAuto(corpus, threshold = 0.9)
          .join(sizes.select(col("doc_id").as("doc_sub"), col("n").as("n_sub")), Seq("doc_sub"))
          .join(sizes.select(col("doc_id").as("doc_sup"), col("n").as("n_sup")), Seq("doc_sup"))
          .filter(col("n_sup") > col("n_sub")
            || (col("n_sup") === col("n_sub") && col("doc_sup") < col("doc_sub")))
          .select(col("doc_sub").as("doc_id")).distinct()
        corpus
          .join(broadcast(drop), Seq("doc_id"), "left_anti")
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
          .join(corpus.groupBy(col("source")).agg(count(lit(1)).as("n_docs")), Seq("source"))
          .select(col("source"), col("n_docs"), col("n_kept"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text, source FROM documents
          UNION ALL
          SELECT doc_id + ${2 * DupOffset},
                 array_to_string(list_slice(string_split(text, ' '), 1,
                   (len(string_split(text, ' ')) + 1) // 2), ' ') AS text,
                 source
          FROM documents
        ), toks AS (
          SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS term
          FROM corpus
        ), sizes AS (
          SELECT doc_id, CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n
          FROM corpus
        ), pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks a JOIN toks b
            ON a.source = b.source AND a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), directed AS (
          SELECT p.doc_a AS doc_sub, p.doc_b AS doc_sup, p.c FROM pairs p
          UNION ALL
          SELECT p.doc_b AS doc_sub, p.doc_a AS doc_sup, p.c FROM pairs p
        ), dropped AS (
          SELECT DISTINCT d.doc_sub AS doc_id
          FROM directed d
          JOIN sizes sa ON d.doc_sub = sa.doc_id
          JOIN sizes sb ON d.doc_sup = sb.doc_id
          WHERE CAST(d.c AS DOUBLE) / sa.n >= 0.9
            AND (sb.n > sa.n OR (sb.n = sa.n AND d.doc_sup < d.doc_sub))
        )
        SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM corpus c LEFT JOIN dropped dr ON c.doc_id = dr.doc_id
        GROUP BY c.source ORDER BY c.source
      """),
    ),
    // Cross-source overlap matrix: for every source pair, how many
    // distinct text fingerprints they share — the "which feeds are
    // re-crawling each other" curation question that decides dedup
    // ordering and per-source caps. Shape: distinct (fp, source) pairs
    // (payload drops at the first agg), then a self-join ON fp whose
    // fan-out is bounded by sources-per-fingerprint, never corpus size.
    // Uses the duplicate-injected corpus so sources genuinely overlap.
    Q(
      "doc_source_overlap",
      (s, d) => {
        val fps = dupCorpus(s, d)
          // remap the injected copy onto the NEXT source (src k → k+1
          // mod 20) so overlap exists across source labels, not within
          .withColumn("source",
            when(col("doc_id") >= DupOffset,
              concat(lit("src"),
                (((col("doc_id") - DupOffset) % 20 + 1) % 20).cast("string")))
              .otherwise(col("source")))
          .select(md5(col("text").cast("binary")).as("fp"), col("source"))
          .distinct()
        val b = fps.select(col("fp"), col("source").as("source_b"))
        fps.join(b, Seq("fp"))
          .filter(col("source") < col("source_b"))
          .groupBy(col("source").as("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_shared"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""
        WITH fps AS (
          SELECT DISTINCT md5(text) AS fp,
                 CASE WHEN doc_id >= $DupOffset
                      THEN 'src' || CAST(((doc_id - $DupOffset) % 20 + 1) % 20 AS VARCHAR)
                      ELSE source END AS source
          FROM $dupCorpusSql
        )
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2
      """),
    ),
    // Model-free document embedding: signed feature-hashed bag-of-words
    // (the hashing trick with Achlioptas-style ±1 signs — a sparse
    // random projection with no stored matrix). Every token adds ±1 to
    // one of 16 dims via md5; exact integer components, published as
    // (doc_id, dim, val) rows. Gives any corpus a dense-embedding
    // column with NO model artifact — the cheap input to cosine
    // near-dup/clustering when no encoder is available. One explode +
    // one map-side-combined agg (≤16 rows/doc survive the combine).
    Q(
      "doc_hash_embedding",
      (s, d) => T(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .select(col("doc_id"),
          expr("CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT) % 16").as("dim"),
          expr("CASE WHEN substr(md5(t), 9, 1) BETWEEN '0' AND '7' THEN 1L ELSE -1L END").as("sgn"))
        .groupBy(col("doc_id"), col("dim"))
        .agg(sum(col("sgn")).as("val"))
        .orderBy(col("doc_id"), col("dim")),
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ), h AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16 AS dim,
                 CASE WHEN substr(md5(t), 9, 1) BETWEEN '0' AND '7' THEN 1 ELSE -1 END AS sgn
          FROM toks
        )
        SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS val
        FROM h GROUP BY 1, 2 ORDER BY doc_id, dim
      """),
    ),
    // Matryoshka/truncated-dimension search: top-5 using only the FIRST
    // 32 of 64 components (half the bytes, half the multiplies — the
    // cheap first stage of a coarse→fine funnel) scored per query as
    // |top5_trunc ∩ top5_full|. A FULL-VALUE gate: DuckDB independently
    // computes BOTH rankings (the emb_cosine_topk bit-exact double
    // contract) and the overlap. On these synthetic (non-MRL-trained)
    // embeddings the prefix carries no privileged information — mean
    // overlap ~0.3 at sf0.01 — which is itself the measurement: the
    // funnel's first stage needs a front-loaded encoder to be cheap AND
    // faithful.
    Q(
      "emb_matryoshka_hits",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val tr = emb.withColumn("embedding", expr("slice(embedding, 1, 32)"))
        val exact = Ann.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 5)
        val approx = Ann.bruteForceTopK(tr.filter(col("vec_id") < 10), tr, 5)
        exact.select(col("query_id"), col("neighbor_id"))
          .join(approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .orderBy(col("query_id"))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        rf AS (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                   list_inner_product(qe, ce)
                     / (SQRT(list_inner_product(qe, qe)) * SQRT(list_inner_product(ce, ce))) DESC,
                   neighbor_id) AS rk
          FROM q, c WHERE query_id <> neighbor_id
        ), rt AS (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                   list_inner_product(qe[1:32], ce[1:32])
                     / (SQRT(list_inner_product(qe[1:32], qe[1:32])) * SQRT(list_inner_product(ce[1:32], ce[1:32]))) DESC,
                   neighbor_id) AS rk
          FROM q, c WHERE query_id <> neighbor_id
        )
        SELECT f.query_id,
               CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM (SELECT * FROM rf WHERE rk <= 5) f
        LEFT JOIN (SELECT * FROM rt WHERE rk <= 5) t
          ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        GROUP BY 1 ORDER BY 1
      """),
    ),
    // Distributed k-means (2 Lloyd rounds, k=8) under the cross-engine-
    // exact arithmetic contract (1e-4 FLOOR quantization, BIGINT squared
    // L2, smallest-index ties, `sum div n` centroid means, smallest-id
    // init) — the corpus-clustering stage behind topic balancing /
    // cluster-based mixing. The oracle REPLAYS THE FULL TRAINING in
    // DuckDB: init → assign → update → assign → update → final assign,
    // one materialized CTE stage per step, landing on bit-identical
    // (vec_id, cluster, d2) rows. Per iteration the engine runs one
    // narrow plan-constant assignment projection + one k·dim-row
    // map-side-combined agg (the only driver materialization).
    Q(
      "emb_kmeans",
      (s, d) => graft.similarity.KMeans
        .fitAssign(T(s, d, "embeddings"), k = 8, iters = 2)
        .orderBy("vec_id"),
      Some(kmeansReplayCte + """
        SELECT vec_id, cl AS cluster, d2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn FROM d3
        ) WHERE rn = 1
        ORDER BY vec_id
      """),
    ),
    // Cluster-balanced corpus sampling: the learned k-means clusters
    // feeding curation — per-cluster caps (the doc_cap_per_source shape
    // keyed by LEARNED topic instead of source metadata; SemDeDup /
    // cluster-balanced mixing pipelines do exactly this). Deterministic
    // md5-order survivors; output is the per-cluster census. The oracle
    // re-replays the full k-means training and then the capped window.
    Q(
      "emb_cluster_balance",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val assigned = graft.similarity.KMeans
          .fitAssign(T(s, d, "embeddings"), k = 8, iters = 2)
        val w = Window.partitionBy(col("cluster"))
          .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
        assigned
          .withColumn("rn", row_number().over(w))
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("rn") <= 40, 1L).otherwise(0L)).as("n_kept"))
          .orderBy(col("cluster"))
      },
      Some(kmeansReplayCte + """
        , fin AS (
          SELECT vec_id, cl AS cluster FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn FROM d3
          ) WHERE rn = 1
        ), ranked AS (
          SELECT cluster, ROW_NUMBER() OVER (PARTITION BY cluster
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
          FROM fin
        )
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN rn <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM ranked GROUP BY 1 ORDER BY 1
      """),
    ),
    // ------------------------------------------------ multimodal features
    // Opaque binary payloads → per-partition byte-feature kernel
    // (mapPartitions, no shuffle). Text bytes stand in for media payloads;
    // the decode step proper is stubbed (no codecs in this environment).
    Q(
      "mm_byte_features",
      (s, d) => {
        val mm = Multimodal.fromDocuments(T(s, d, "documents"))
        Multimodal.byteFeatures(mm)
          .select(
            // mean/stddev derive from exact integer sums through the
            // identical expression tree on both engines — raw doubles
            // are bit-equal (probed 0/500 mismatches). entropy sums
            // log terms (engine libm + agg order differ at ulps), so
            // it ships as Fx e4 fixed-point: max cross-engine diff
            // 2.7e-15 vs a 1.3e-4 min half-boundary margin at sf0.01.
            col("id"),
            col("n_bytes"),
            col("mean_byte"),
            col("stddev_byte"),
            round(col("entropy") * 10000).cast("bigint").as("entropy_e4"),
          )
          .orderBy(col("id"))
      },
      Some("""
        WITH chars AS (
          SELECT doc_id, ascii(unnest(string_split(text, ''))) AS b FROM documents
        ), stats AS (
          SELECT doc_id, COUNT(*) AS n, AVG(b) AS mean_b,
                 SQRT(GREATEST(AVG(b * b) - AVG(b) * AVG(b), 0.0)) AS sd_b
          FROM chars GROUP BY 1
        ), freq AS (
          SELECT doc_id, b, COUNT(*) AS c FROM chars GROUP BY 1, 2
        ), ent AS (
          SELECT f.doc_id, -SUM((c / s.n) * log2(c / s.n)) AS e
          FROM freq f JOIN stats s ON f.doc_id = s.doc_id GROUP BY 1
        )
        SELECT s.doc_id AS id, s.n AS n_bytes,
               s.mean_b AS mean_byte,
               s.sd_b AS stddev_byte,
               CAST(ROUND(ent.e * 10000) AS BIGINT) AS entropy_e4
        FROM stats s JOIN ent ON s.doc_id = ent.doc_id
        ORDER BY id
      """),
    ),
    // --------------------------------------------- multimodal REAL decode
    // End-to-end image codec round-trip with NO stub anywhere: fixture
    // payloads are real PNG (even ids) / BMP (odd ids) bytes from the
    // JDK's javax.imageio writers with pixel(i) = (id·31 + i) % 256;
    // imageFeatures decodes them back with the JDK readers on executors
    // and emits raster stats the oracle derives analytically from the
    // same pixel formula.
    Q(
      "mm_decode_roundtrip",
      (s, d) =>
        Multimodal.imageFeatures(
          Multimodal.syntheticImages(
            T(s, d, "documents").filter(col("doc_id") < 40), w = 13, h = 9))
          .orderBy(col("id")),
      Some("""
        WITH px AS (
          SELECT doc_id, (doc_id * 31 + t.range) % 256 AS v
          FROM documents, range(117) t WHERE doc_id < 40
        )
        SELECT doc_id AS id,
               CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
               13 AS width, 9 AS height,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(v) AS BIGINT) AS sum_px,
               CAST(MIN(v) AS BIGINT) AS min_px,
               CAST(MAX(v) AS BIGINT) AS max_px
        FROM px GROUP BY doc_id ORDER BY id
      """),
    ),
    // --------------------------------------------- multimodal JPEG decode
    // The LOSSY-codec gate (real corpora are JPEG-first): fixture payloads
    // are real single-component JFIF bytes from the JDK's JPEG writer,
    // uniform gray (id·37) mod 256 per image; the JDK JPEG READER must
    // decode them back on executors. A row existing at all proves a real
    // ImageIO decode (imageFeatures DROPS undecodable payloads — the stub
    // path never reaches it); dims prove the frame geometry survived MCU
    // padding (13×9 is deliberately not a multiple of 8); the booleans
    // prove the raster content: a uniform all-DC image must come back
    // uniform (max−min ≤ 2) and within ±2 gray of the encoded value —
    // bounds that hold for ANY conformant JPEG codec at the writer's
    // default quality, so the oracle states them analytically.
    Q(
      "mm_decode_jpeg",
      (s, d) =>
        Multimodal.imageFeatures(
          Multimodal.syntheticJpegImages(
            T(s, d, "documents").filter(col("doc_id") < 40), w = 13, h = 9))
          .select(
            col("id"), col("fmt"), col("width"), col("height"), col("n_px"),
            (col("max_px") - col("min_px") <= 2).as("uniform_ok"),
            (abs(col("sum_px") - (col("id") * 37 % 256) * col("n_px"))
              <= lit(2L) * col("n_px")).as("value_ok"))
          .orderBy(col("id")),
      Some("""
        SELECT doc_id AS id, 'jpeg' AS fmt, 13 AS width, 9 AS height,
               CAST(117 AS BIGINT) AS n_px,
               TRUE AS uniform_ok, TRUE AS value_ok
        FROM documents WHERE doc_id < 40 ORDER BY id
      """),
    ),
    // ------------------------------------------------ multimodal REAL audio
    // RIFF/WAVE PCM16 decode with NO stub and no javax.sound: a pure-JDK
    // chunk-walking parser (fmt validation, LIST/fact skipping, even
    // padding, sign-extended LE samples — Multimodal.decodeWavPcm16;
    // foreign interop vs python's stdlib `wave` writer is
    // MultimodalSpec-pinned). Fixture payloads are canonical-form WAVs of
    // the analytic sweep sample(id,i) = (id*31 + i*7) % 4096 - 2048, so
    // the oracle derives every stat from the formula — a byte-stats fake
    // reading the RIFF header as audio cannot match the exact sums.
    Q(
      "mm_decode_wav",
      (s, d) =>
        Multimodal.audioFeatures(
          Multimodal.syntheticWavs(
            T(s, d, "documents").filter(col("doc_id") < 40), nSamples = 480))
          .orderBy(col("id")),
      Some("""
        WITH s AS (
          SELECT doc_id, (doc_id * 31 + t.range * 7) % 4096 - 2048 AS v
          FROM documents, range(480) t WHERE doc_id < 40
        )
        SELECT doc_id AS id, 8000 AS sample_rate, 1 AS channels,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(v) AS BIGINT) AS sum_s,
               CAST(MIN(v) AS BIGINT) AS min_s,
               CAST(MAX(v) AS BIGINT) AS max_s
        FROM s GROUP BY doc_id ORDER BY id
      """),
    ),
    // ------------------------------------------------ multimodal REAL video
    // AVI/RIFF decode with NO stub: a pure-JDK container parser walks
    // hdrl (avih dims/rate, strf 24-bit uncompressed DIB required) and
    // movi ('00db' frames, bottom-up padded DIB rows flipped back to
    // top-down BGR — Multimodal.decodeAviRgb24; foreign interop vs an
    // independent python struct writer incl. JUNK/idx1 chunks is
    // MultimodalSpec-pinned). Fixture frames are the analytic byte sweep
    // aviByte(id,f,i) = (id*31 + f*17 + i*7) % 256, so the oracle
    // derives every per-frame stat from the formula — container headers
    // fed to a byte-stats fake cannot match the exact sums.
    Q(
      "mm_decode_avi",
      (s, d) =>
        Multimodal.videoFrameFeatures(
          Multimodal.syntheticAvis(
            T(s, d, "documents").filter(col("doc_id") < 40), nFrames = 3, w = 16, h = 4))
          .orderBy(col("id"), col("frame_idx")),
      Some("""
        WITH b AS (
          SELECT doc_id, f.range AS fi, (doc_id * 31 + f.range * 17 + t.range * 7) % 256 AS v
          FROM documents, range(3) f, range(192) t WHERE doc_id < 40
        )
        SELECT doc_id AS id, CAST(fi AS INT) AS frame_idx,
               16 AS width, 4 AS height,
               CAST(COUNT(*) AS BIGINT) AS n_bytes,
               CAST(SUM(v) AS BIGINT) AS sum_b,
               CAST(MIN(v) AS BIGINT) AS min_b,
               CAST(MAX(v) AS BIGINT) AS max_b
        FROM b GROUP BY doc_id, fi ORDER BY id, frame_idx
      """),
    ),
    // ------------------------------------------- multimodal frame sampling
    // Fixed 64-byte frames per payload (the audio/video frame-sample batch
    // shape): one row per frame, features from identical integer sums on
    // both engines.
    Q(
      "mm_frame_features",
      (s, d) =>
        Multimodal.frameFeatures(Multimodal.fromDocuments(T(s, d, "documents")), frameBytes = 64)
          // raw doubles: mean = exact-int-sum / n and rms =
          // sqrt(exact-int-sum / n) follow the identical expression
          // tree on both engines (IEEE divide + correctly-rounded
          // sqrt), so no rounding is needed for hash stability.
          .select(
            col("id"), col("frame_idx"), col("n_bytes"),
            col("mean_byte"),
            col("rms"),
          )
          .orderBy(col("id"), col("frame_idx")),
      Some("""
        WITH f AS (
          SELECT doc_id, unnest(generate_series(0, CAST((length(text) - 1) // 64 AS BIGINT))) AS frame_idx, text
          FROM documents
        ), b AS (
          SELECT doc_id, frame_idx,
                 ascii(unnest(string_split(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64), ''))) AS v
          FROM f
        )
        SELECT doc_id AS id, frame_idx, COUNT(*) AS n_bytes,
               AVG(v) AS mean_byte,
               SQRT(AVG(v * v)) AS rms
        FROM b GROUP BY 1, 2 ORDER BY id, frame_idx
      """),
    ),
    // ------------------------------------------- multimodal raster resize
    // The resize stage of an image pipeline over the payload byte raster
    // (REAL resampling — no codec needed; (ceil(len/32), 32) gray raster
    // → 8×8 nearest). Verified via per-payload checksums of the resized
    // raster against the same index arithmetic in SQL.
    Q(
      "mm_resize_nearest",
      (s, d) => {
        import s.implicits._
        Multimodal.resizeNearest(
          Multimodal.fromDocuments(T(s, d, "documents")), srcW = 32, tgtH = 8, tgtW = 8)
          .select("id", "h", "w", "resized")
          .as[(Long, Int, Int, Array[Byte])]
          .map { case (id, h, w, b) =>
            (id, h.toLong * w, b.foldLeft(0L)((acc, x) => acc + (x & 0xff)))
          }
          .toDF("id", "n_px", "sum_px")
          .orderBy("id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, text, length(text) AS len,
                 GREATEST(1, (length(text) + 31) // 32) AS srcH
          FROM documents
        ), px AS (
          SELECT doc_id, len, text,
                 ((ty.range * srcH) // 8) * 32 + ((tx.range * 32) // 8) AS idx
          FROM d, range(8) ty, range(8) tx
        )
        SELECT doc_id AS id, CAST(64 AS BIGINT) AS n_px,
               CAST(SUM(CASE WHEN idx < len
                             THEN ascii(substr(text, CAST(idx + 1 AS INT), 1))
                             ELSE 0 END) AS BIGINT) AS sum_px
        FROM px GROUP BY doc_id ORDER BY id
      """),
    ),
    // ------------------------------------- perceptual image near-dup (dHash)
    // The standard multimodal-corpus dedup stage: every payload gets a
    // 64-bit dHash (REAL decode through the JDK readers inside the
    // codegen'd graft_dhash64 expression, then the 8x8 luma-gradient
    // grid), candidates come from 16-bit hamming bands (the simhash
    // pigeonhole: distance <= 3 forces a shared quarter — NEVER
    // all-pairs), and the bounded candidate set is verified exactly by
    // hamming distance. Fixture: per doc a base PNG of an id-dependent
    // multiplicative sawtooth (unrelated images sit >= 5 bits apart,
    // probed over all pairs), plus raster-identical BMP re-encodes
    // (hamming 0) and bottom-right-tweaked PNG twins (hamming <= 1).
    // The oracle re-derives every hash FROM THE RASTER ALGEBRA in SQL —
    // same NN grid sampling, same gradient bits, same banding-free
    // exhaustive pair scan — so Spark's decode+hash+band pipeline is
    // checked end-to-end against an independent arithmetic replay.
    Q(
      "mm_phash_dedup",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val mm = Multimodal.syntheticNearDupImages(
          T(s, d, "documents").filter(col("doc_id") < 40), w = 16, h = 16)
        val hashed = mm.select(
          col("id").as("doc_id"),
          graft.functions.GraftFunctions.dhash64(col("payload")).as("simhash"))
          .filter(col("simhash").isNotNull)
        Dedup.simhashPairs(hashed, maxHamming = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""
        WITH $dhashAlgebraCtes
        SELECT a.img AS id_a, b.img AS id_b,
               CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        FROM hashes a JOIN hashes b ON a.img < b.img
        WHERE bit_count(xor(a.h, b.h)) <= 3
        ORDER BY id_a, id_b
      """),
    ),
    // --------------------------- STREAMING image near-dup gate, batch face
    // MediaStreams.imageNearDupGate: the mm_phash_dedup pipeline as a
    // bounded-state stream — dHash quarters are the LSH bands, each
    // bucket's transformWithState owner keeps its FULL hash so arriving
    // payloads are hamming-VERIFIED in the stateful operator, not just
    // bucket-matched (MediaStreamsSpec pins stream==batch and 2 stateful
    // ops). This batch face computes the same min-id-owner + exact
    // verify via window-min/min_by, and the oracle replays decode →
    // raster algebra → hashes → quarter banding → owner → hamming
    // verify → windowed verdicts, end to end in SQL.
    Q(
      "mm_stream_neardup",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val mm = Multimodal.syntheticNearDupImages(
          T(s, d, "documents").filter(col("doc_id") < 40), w = 16, h = 16)
        graft.streaming.MediaStreams.imageNearDupGate(mm)
          .select(
            col("window.start").cast("long").as("window_s"),
            col("doc_id"), col("is_dup"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $dhashAlgebraCtes,
        bands AS (
          SELECT img, b.range AS band,
                 (h >> CAST(b.range * 16 AS INT)) & 65535 AS fp, h
          FROM hashes, range(4) b
        ),
        owners AS (
          SELECT band, fp, MIN(img) AS owner_id, arg_min(h, img) AS owner_h
          FROM bands GROUP BY 1, 2
        )
        SELECT (x.img // 60) * 3600 AS window_s, x.img AS doc_id,
               CAST(MAX(CASE WHEN o.owner_id < x.img
                              AND bit_count(xor(x.h, o.owner_h)) <= 3
                             THEN 1 ELSE 0 END) AS BIGINT) AS is_dup
        FROM bands x JOIN owners o USING (band, fp)
        GROUP BY 1, 2 ORDER BY doc_id
      """),
    ),
    // ------------------------------------- perceptual video near-dup
    // The third corner of the near-dup triangle (image dHash, audio WHT
    // bands, and now video): REAL AVI/DIB decode inside the codegen'd
    // graft_video_fp64, then the SHARED 8×8 dHash grid over frame 0's
    // exact-integer (b+g+r) luma, hamming-banded candidates (never
    // all-pairs, shape-pinned), exact verify. Fixture: per doc a
    // 2-frame multiplicative-sawtooth clip, a CONTAINER re-encode at a
    // different fps (identical rasters → hamming 0), and a frame-0
    // bottom-right tweak (≤1 bit); unrelated clips ≥5 bits apart,
    // probed over all pairs in MultimodalSpec. The oracle replays the
    // raster algebra — container decode, DIB flip, luma, grid, and
    // banding all have to be right for the hashes to meet.
    Q(
      "mm_video_dedup",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val mm = Multimodal.syntheticNearDupAvis(
          T(s, d, "documents").filter(col("doc_id") < 40))
        val hashed = mm.select(
          col("id").as("doc_id"),
          graft.functions.GraftFunctions.videoFp64(col("payload")).as("simhash"))
          .filter(col("simhash").isNotNull)
        Dedup.simhashPairs(hashed, maxHamming = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH clips AS (
          SELECT doc_id AS clip, doc_id AS base, 0 AS variant
          FROM documents WHERE doc_id < 40
          UNION ALL
          SELECT doc_id + 1000, doc_id, 0 FROM documents
          WHERE doc_id < 40 AND doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + 2000, doc_id, 1 FROM documents
          WHERE doc_id < 40 AND doc_id % 7 = 0
        ),
        grid AS (
          SELECT clip, base, variant, gy.range AS gy, gx.range AS gx,
                 CAST(gy.range * 2 AS BIGINT) AS sy,
                 CAST(gx.range * 16 // 9 AS BIGINT) AS sxa,
                 CAST((gx.range + 1) * 16 // 9 AS BIGINT) AS sxb
          FROM clips, range(8) gy, range(8) gx
        ),
        bits AS (
          SELECT clip, gy * 8 + gx AS b,
                 CASE WHEN (CASE WHEN variant = 1 AND sy >= 14 AND sxa >= 12
                                 THEN 3 * ((base * 31) % 256)
                                 ELSE 3 * (((sy * 16 + sxa) * (97 + 2 * base) + base * 53) % 256) END)
                         < (CASE WHEN variant = 1 AND sy >= 14 AND sxb >= 12
                                 THEN 3 * ((base * 31) % 256)
                                 ELSE 3 * (((sy * 16 + sxb) * (97 + 2 * base) + base * 53) % 256) END)
                      THEN 1 ELSE 0 END AS bit
          FROM grid
        ),
        hashes AS (
          SELECT clip,
                 CAST(SUM(CASE WHEN bit = 0 THEN 0
                               WHEN b = 63 THEN -9223372036854775808
                               ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END) AS BIGINT) AS h
          FROM bits GROUP BY clip
        )
        SELECT a.clip AS id_a, b.clip AS id_b,
               CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        FROM hashes a JOIN hashes b ON a.clip < b.clip
        WHERE bit_count(xor(a.h, b.h)) <= 3
        ORDER BY id_a, id_b
      """),
    ),
    // ------------------------------------- perceptual audio near-dup
    // The audio twin of mm_phash_dedup: every WAV payload gets a 64-bit
    // Haitsma–Kalker band-energy-difference fingerprint (REAL RIFF
    // decode inside the codegen'd graft_audio_fp64 expression, then a
    // per-frame Walsh–Hadamard spectrum — the ±1 sequency basis keeps
    // every energy integer-exact where an FFT would be float, so the
    // oracle can replay the WHOLE spectral pipeline in SQL), candidates
    // come from 16-bit hamming bands (NEVER all-pairs — shape-pinned),
    // and the bounded candidate set is verified exactly. Fixture: per
    // doc a quadratic-residue noise clip, plus amplitude-doubled
    // re-masters (band-difference signs are scale invariant → hamming
    // 0) and dithered twins (±200 sweep in frame 2 → hamming ≤ 1);
    // unrelated clips sit ≥ 18 bits apart, probed over all pairs in
    // MultimodalSpec. The oracle re-derives every fingerprint FROM THE
    // SAMPLE FORMULA — decode, WHT, banding, and hamming all have to be
    // right for the hashes to meet.
    Q(
      "mm_audio_dedup",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val mm = Multimodal.syntheticNearDupWavs(
          T(s, d, "documents").filter(col("doc_id") < 40))
        val hashed = mm.select(
          col("id").as("doc_id"),
          graft.functions.GraftFunctions.audioFp64(col("payload")).as("simhash"))
          .filter(col("simhash").isNotNull)
        Dedup.simhashPairs(hashed, maxHamming = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH clips AS (
          SELECT doc_id AS clip, doc_id AS base, 0 AS pert
          FROM documents WHERE doc_id < 40
          UNION ALL
          SELECT doc_id + 1000, doc_id, 1 FROM documents
          WHERE doc_id < 40 AND doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + 2000, doc_id, 2 FROM documents
          WHERE doc_id < 40 AND doc_id % 7 = 0
        ),
        samp AS (
          SELECT clip, t.range AS i,
                 (((t.range * (base * 64 + 17) + 29) * (t.range * (base * 64 + 17) + 29)
                     % 816929) % 4096 - 2048)
                   * CASE WHEN pert = 1 THEN 2 ELSE 1 END
                 + CASE WHEN pert = 2 AND t.range BETWEEN 128 AND 191
                        THEN (t.range * 7) % 401 - 200 ELSE 0 END AS v
          FROM clips, range(576) t
        ),
        wht AS (
          SELECT s.clip, s.i // 64 AS f, k.range AS k,
                 CAST(SUM(CASE WHEN bit_count((s.i % 64) & k.range) % 2 = 0
                               THEN s.v ELSE -s.v END) AS BIGINT) AS h
          FROM samp s, range(1, 64) k
          GROUP BY 1, 2, 3
        ),
        bands AS (
          SELECT clip, f, (k - 1) // 7 AS b, CAST(SUM(ABS(h)) AS BIGINT) AS e
          FROM wht GROUP BY 1, 2, 3
        ),
        bits AS (
          SELECT c.clip, (c.f - 1) * 8 + c.b AS idx,
                 CASE WHEN (c.e - cn.e) - (p.e - pn.e) > 0 THEN 1 ELSE 0 END AS bit
          FROM bands c
          JOIN bands cn ON cn.clip = c.clip AND cn.f = c.f AND cn.b = c.b + 1
          JOIN bands p  ON p.clip = c.clip AND p.f = c.f - 1 AND p.b = c.b
          JOIN bands pn ON pn.clip = c.clip AND pn.f = c.f - 1 AND pn.b = c.b + 1
          WHERE c.f >= 1 AND c.b <= 7
        ),
        fps AS (
          SELECT clip,
                 CAST(SUM(CASE WHEN bit = 0 THEN 0
                               WHEN idx = 63 THEN -9223372036854775808
                               ELSE CAST(1 AS BIGINT) << CAST(idx AS INT) END) AS BIGINT) AS h
          FROM bits GROUP BY clip
        )
        SELECT a.clip AS id_a, b.clip AS id_b,
               CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        FROM fps a JOIN fps b ON a.clip < b.clip
        WHERE bit_count(xor(a.h, b.h)) <= 3
        ORDER BY id_a, id_b
      """),
    ),
    // Single-pass MIXED-modality dedup — the near-dup triangle COMPOSED:
    // one corpus holding images, WAVs, and AVIs together, each payload
    // fingerprinted by its modality's codegen'd expression (dHash / WHT
    // bands / frame-0 luma dHash), one shared hamming-band candidate
    // pass over the union (never all-pairs, shape-pinned), pairs
    // restricted to their own fingerprint space (the id ranges encode
    // modality; cross-space hamming is meaningless and any chance
    // cross-band candidate is filtered). The oracle re-derives all
    // three fingerprint families from their raster/spectral algebra
    // and replays the same per-modality pair scan.
    Q(
      "mm_mixed_dedup",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs40 = T(s, d, "documents").filter(col("doc_id") < 40)
        val imgs = Multimodal.syntheticNearDupImages(docs40, w = 16, h = 16)
          .select(col("id").as("doc_id"),
            graft.functions.GraftFunctions.dhash64(col("payload")).as("simhash"))
        val wavs = Multimodal.syntheticNearDupWavs(docs40)
          .select((col("id") + 10000L).as("doc_id"),
            graft.functions.GraftFunctions.audioFp64(col("payload")).as("simhash"))
        val avis = Multimodal.syntheticNearDupAvis(docs40)
          .select((col("id") + 20000L).as("doc_id"),
            graft.functions.GraftFunctions.videoFp64(col("payload")).as("simhash"))
        val hashed = imgs.unionByName(wavs).unionByName(avis)
          .filter(col("simhash").isNotNull)
        Dedup.simhashPairs(hashed, maxHamming = 3)
          .filter(expr("id_a div 10000") === expr("id_b div 10000"))
          .withColumn("modality", expr(
            "CASE CAST(id_a div 10000 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"))
          .select(col("modality"), col("id_a"), col("id_b"), col("hamming"))
          .orderBy(col("modality"), col("id_a"), col("id_b"))
      },
      Some(s"""
        WITH $mixedFpsCtes,
        allfps AS (
          SELECT 'image' AS modality, clip, h FROM img_fps
          UNION ALL SELECT 'audio', clip + 10000, h FROM aud_fps
          UNION ALL SELECT 'video', clip + 20000, h FROM vid_fps
        )
        SELECT a.modality, a.clip AS id_a, b.clip AS id_b,
               CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        FROM allfps a JOIN allfps b ON a.modality = b.modality AND a.clip < b.clip
        WHERE bit_count(xor(a.h, b.h)) <= 3
        ORDER BY a.modality, id_a, id_b
      """),
    ),
    // --------------------- STREAMING mixed-modality near-dup, batch face
    // MediaStreams.mixedNearDupGate: mm_mixed_dedup as a bounded-state
    // stream — ONE feed of images + WAVs + AVIs, each fingerprinted by
    // its modality's codegen'd kernel, deduped in ONE transformWithState
    // whose band key carries modality*4 so fingerprint spaces never
    // share a bucket (cross-modality hamming is structurally impossible,
    // not post-filtered — the video frame-0 dHash is sign-identical to
    // the image dHash for the same base, so this matters). Each bucket
    // owner keeps its full hash for the exact hamming verify
    // (MediaStreamsSpec pins stream==batch across modalities). The batch
    // face replays min-id ownership via window-min/min_by; the oracle
    // re-derives all three fingerprint families from their raster /
    // spectral algebra, bands them modality-disjoint, and replays owner
    // -> hamming verify -> windowed verdicts end to end in SQL.
    Q(
      "mm_stream_mixed",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs40 = T(s, d, "documents").filter(col("doc_id") < 40)
        val feed = Multimodal.syntheticNearDupImages(docs40, w = 16, h = 16)
          .unionByName(Multimodal.syntheticNearDupWavs(docs40)
            .withColumn("id", col("id") + 10000L))
          .unionByName(Multimodal.syntheticNearDupAvis(docs40)
            .withColumn("id", col("id") + 20000L))
          .select(col("id"), col("modality"), col("payload"))
        graft.streaming.MediaStreams.mixedNearDupGate(feed)
          .select(
            col("window.start").cast("long").as("window_s"),
            expr("CASE CAST(doc_id div 10000 AS INT) WHEN 0 THEN 'image'" +
              " WHEN 1 THEN 'audio' ELSE 'video' END").as("modality"),
            col("doc_id"), col("is_dup"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $mixedFpsCtes,
        allfps AS (
          SELECT 0 AS kidx, clip, h FROM img_fps
          UNION ALL SELECT 1, clip + 10000, h FROM aud_fps
          UNION ALL SELECT 2, clip + 20000, h FROM vid_fps
        ),
        qb AS (
          SELECT kidx * 4 + b.range AS band,
                 (h >> CAST(b.range * 16 AS INT)) & 65535 AS fp, clip, h
          FROM allfps, range(4) b
        ),
        owners AS (
          SELECT band, fp, MIN(clip) AS owner_id, arg_min(h, clip) AS owner_h
          FROM qb GROUP BY 1, 2
        )
        SELECT (x.clip // 60) * 3600 AS window_s,
               CASE x.clip // 10000 WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
               x.clip AS doc_id,
               CAST(MAX(CASE WHEN o.owner_id < x.clip
                              AND bit_count(xor(x.h, o.owner_h)) <= 3
                             THEN 1 ELSE 0 END) AS BIGINT) AS is_dup
        FROM qb x JOIN owners o USING (band, fp)
        GROUP BY 1, 2, 3 ORDER BY doc_id
      """),
    ),
    // --------------------------------------- end-to-end corpus curation
    // The composed pipeline a training-data run actually executes:
    // quality-score filter → exact dedup (keep the lowest doc_id per text)
    // → per-language corpus stats. Every stage is one of the operators
    // verified individually above; this proves they compose.
    Q(
      "doc_pipeline_curate",
      (s, d) => {
        val docs = dupCorpus(s, d)
        val scored = TextAnalysis.withQuality(docs).filter(col("quality_score") >= 0.5)
        val keep = Dedup.exactGroups(scored).select(col("keep_id").as("doc_id"))
        scored.join(keep, Seq("doc_id"), "left_semi")
          // per-doc micro-units of the (deterministic) score make the group
          // average order-independent: exact int64 sum, one final division
          .withColumn("q_micro", round(col("quality_score") * 1000000L).cast("bigint"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            (sum(col("q_micro")) / (count(lit(1)) * 1000000.0)).as("avg_quality"),
          )
          .orderBy(col("lang"))
      },
      Some(s"""
        WITH scored AS (
          SELECT doc_id, lang, n AS n_tokens, text,
                 (5000 * d + 30 * LEAST(n, 100) * n + 2000 * st) / (n * 10000.0) AS quality_score
          FROM (
            SELECT doc_id, lang, text,
                   len(string_split(text, ' ')) AS n,
                   len(list_distinct(string_split(text, ' '))) AS d,
                   len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS st
            FROM $dupCorpusSql
          )
        ), q AS (SELECT * FROM scored WHERE quality_score >= 0.5),
        keep AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text))
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               SUM(CAST(ROUND(quality_score * 1000000) AS BIGINT)) / (COUNT(*) * 1000000.0) AS avg_quality
        FROM q WHERE doc_id IN (SELECT doc_id FROM keep)
        GROUP BY lang ORDER BY lang
      """),
    ),
    // ----------------------------- cross-modal curation (text + vectors)
    // The multimodal composition a real curation run executes: quality
    // filter → exact dedup → deterministic train/val split → join each
    // surviving doc to its embedding → per-(lang, split) corpus stats
    // with an exact fixed-point vector-norm sum. Text ops consume the
    // documents table map-side; only (id, lang, split) meets the
    // embedding join — at 100 TB neither text nor vectors shuffle
    // through each other's stages.
    Q(
      "doc_curate_multimodal",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = T(s, d, "documents")
        val emb = T(s, d, "embeddings")
        val scored = TextAnalysis.withQuality(docs).filter(col("quality_score") >= 0.5)
        val keep = Dedup.exactGroups(scored).select(col("keep_id").as("doc_id"))
        val kept = scored.join(keep, Seq("doc_id"), "left_semi")
          .withColumn("split", Dedup.splitColumn(col("doc_id")))
        kept
          .join(
            emb.select(
              col("vec_id").as("doc_id"),
              col("embedding").cast("array<double>").as("e")),
            Seq("doc_id"))
          .withColumn(
            "norm_e6",
            // codegen'd graft_dot(e, e), not the interpreted HOF `aggregate`:
            // same sequential accumulation order, so the sqrt/round pipeline
            // stays bit-identical to DuckDB's list_inner_product oracle
            round(sqrt(graft.functions.GraftFunctions.dot(col("e"), col("e"))) * 1000000L)
              .cast("bigint"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("norm_e6")).as("sum_norm_e6"))
          .orderBy(col("lang"), col("split"))
      },
      Some("""
        WITH c AS (
          SELECT doc_id, lang, text,
                 len(string_split(text, ' ')) AS n,
                 len(list_distinct(string_split(text, ' '))) AS d,
                 len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS st
          FROM documents
        ), scored AS (
          SELECT doc_id, lang, text,
                 (5000 * d + 30 * LEAST(n, 100) * n + 2000 * st) / (n * 10000.0) AS quality_score
          FROM c
        ), q AS (SELECT * FROM scored WHERE quality_score >= 0.5),
        keep AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
        j AS (
          SELECT k.lang,
                 CASE WHEN md5(CAST(k.doc_id AS VARCHAR)) < '2' THEN 'val' ELSE 'train' END AS split,
                 CAST(ROUND(SQRT(list_inner_product(
                   CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * 1000000)
                   AS BIGINT) AS norm_e6
          FROM q k JOIN embeddings e ON k.doc_id = e.vec_id
          WHERE k.doc_id IN (SELECT doc_id FROM keep)
        )
        SELECT lang, split, COUNT(*) AS n_docs,
               CAST(SUM(norm_e6) AS BIGINT) AS sum_norm_e6
        FROM j GROUP BY 1, 2 ORDER BY lang, split
      """),
    ),
    // --------------------------------- streaming surface, batch execution
    // The same windowed-aggregation code that runs under readStream with a
    // watermark, executed here on the batch frame for oracle parity.
    Q(
      "ev_stream_hourly",
      (s, d) =>
        EventStreams.hourlyByType(T.events(s, d))
          .select(
            col("event_type"),
            unix_timestamp(col("window.start")).as("hour_s"),
            col("n_events"),
            (col("value_c") / 100.0).as("total_value"),
          )
          .orderBy(col("event_type"), col("hour_s")),
      Some("""
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s,
               COUNT(*) AS n_events,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
        FROM events GROUP BY 1, 2 ORDER BY event_type, hour_s
      """),
    ),
    // Stream-static enrichment, batch execution: the dimension join runs
    // broadcast + STATELESS under streaming (no join state however long
    // the stream runs; the static side re-plans per micro-batch, so a
    // refreshed dim snapshot is picked up live). EventStreamsSpec proves
    // the streaming execution; this face proves the numbers.
    Q(
      "ev_stream_enrich",
      (s, d) => {
        import s.implicits._
        val dim = T(s, d, "customer")
          .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
        EventStreams.enrichedHourlyBySegment(T.events(s, d), dim)
          .select(
            col("segment"),
            unix_timestamp(col("window.start")).as("hour_s"),
            col("n_events"),
            (col("value_c") / 100.0).as("total_value"),
          )
          .orderBy(col("segment"), col("hour_s"))
      },
      Some("""
        SELECT c.c_mktsegment AS segment,
               CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) AS hour_s,
               COUNT(*) AS n_events,
               SUM(CAST(ROUND(e.value * 100) AS BIGINT)) / 100.0 AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2 ORDER BY segment, hour_s
      """),
    ),
    // Sliding-window streaming surface, batch execution: 1-hour windows
    // every 15 minutes — each event lands in 4 overlapping windows
    // (epoch-aligned, like Spark's window()). Oracle enumerates the 4
    // starts per event directly.
    Q(
      "ev_stream_sliding",
      (s, d) =>
        EventStreams.slidingValue(T.events(s, d))
          .select(
            unix_timestamp(col("window.start")).as("window_s"),
            col("n_events"),
            (col("value_c") / 100.0).as("total_value"),
          )
          .orderBy(col("window_s")),
      Some("""
        WITH w AS (
          SELECT (CAST(FLOOR(epoch(ts)) AS BIGINT)
                    - CAST(FLOOR(epoch(ts)) AS BIGINT) % 900
                    - k.range * 900) AS window_s,
                 value
          FROM events, range(4) k
        )
        SELECT window_s, COUNT(*) AS n_events,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
        FROM w GROUP BY window_s ORDER BY window_s
      """),
    ),
    // Model-based quality filter: the hashing-trick linear classifier
    // (fastText-family) with a FROZEN synthetic weight table — feature
    // hashing via md5, LCG-sprayed weights in 1e-3 units, length-
    // normalized score in exact 1e-6 integers. One codegen'd narrow
    // projection (transform+aggregate HOFs, no explode, no shuffle);
    // production swaps trained weights in as the same plan constant.
    // The oracle re-derives every hash, weight, and score in SQL.
    Q(
      "doc_quality_model",
      (s, d) => TextAnalysis.modelScore(T(s, d, "documents")).orderBy("doc_id"),
      Some("""
        WITH scored AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(list_sum(list_transform(string_split(text, ' '),
                   t -> ((CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1024)
                           * 1103515245 + 12345) % 2001 - 1000)) AS BIGINT) AS sum_w_e3
          FROM documents
        )
        SELECT doc_id, n_tokens,
               (sum_w_e3 * 1000) // n_tokens AS score_e6,
               CAST(((sum_w_e3 * 1000) // n_tokens) >= 0 AS BIGINT) AS quality_pass
        FROM scored ORDER BY doc_id
      """),
    ),
    // DISTRIBUTED TRAINING for the model-based filter — the half of the
    // CCNet/RefinedWeb stage the frozen doc_quality_model table left
    // open: 3 full-batch GD steps of a logistic-shaped linear model
    // (hard-sigmoid, exact int64 fixed-point — QualityTrainer's
    // cross-engine contract) over the hashed feature space, bootstrap
    // labels from the deterministic length+repetition heuristic. The
    // oracle REPLAYS EVERY GD STEP in SQL (the emb_kmeans replay
    // discipline): forward margins, hard-sigmoid errors, per-bucket
    // gradient sums, truncating-div weight updates — three times — then
    // re-derives every doc's final margin. Nothing is shared but the
    // corpus: a wrong gradient, a wrong clamp, or a div/floor mismatch
    // anywhere in 3×(forward+backward) breaks the hash. Scale shape:
    // per iteration ONE ≤257-group hash aggregate (map-side combined);
    // only the weight vector reaches the driver.
    Q(
      "doc_quality_train",
      (s, d) => {
        val docs = T(s, d, "documents")
        val model = QualityTrainer.train(docs, buckets = 256, iters = 3)
        QualityTrainer.score(docs, model)
          .join(QualityTrainer.labels(docs), "doc_id")
          .select(col("doc_id"), col("y"), col("margin_e6"), col("p_e6"), col("pred_pass"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH ${gdReplayCtes()}
        SELECT id AS doc_id, y, margin AS margin_e6,
               CAST(LEAST(1000000, GREATEST(0, margin // 4 + 500000)) AS BIGINT) AS p_e6,
               CAST(margin >= 0 AS BIGINT) AS pred_pass
        FROM m_final ORDER BY doc_id
      """),
    ),
    // WIDE-BUCKET TRAINING (typedlit weight path): identical pipeline at
    // buckets = 8192, past LiteralWeightMax — the weight table enters the
    // plan as ONE array-typed literal instead of an 8192-ary CreateArray
    // (a codegen hazard at production widths; QualityTrainerSpec pins the
    // two forms value-equal, THIS gate proves the wide form end-to-end
    // against the full 2-iteration DuckDB replay at 8192 buckets).
    Q(
      "doc_quality_train_wide",
      (s, d) => {
        val docs = T(s, d, "documents")
        val model = QualityTrainer.train(docs, buckets = 8192, iters = 2)
        QualityTrainer.score(docs, model)
          .join(QualityTrainer.labels(docs), "doc_id")
          .select(col("doc_id"), col("y"), col("margin_e6"), col("pred_pass"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH ${gdReplayCtes(buckets = 8192, gdIters = 2)}
        SELECT id AS doc_id, y, margin AS margin_e6,
               CAST(margin >= 0 AS BIGINT) AS pred_pass
        FROM m_final ORDER BY doc_id
      """),
    ),
    // TRAIN-ONCE / APPLY-ON-STREAM: the trained classifier's weights as
    // plan constants filtering an incremental feed, rolled up into
    // hourly intake windows (DocStreams.modelCurate — stateless scoring,
    // ONE stateful operator; DocStreamsSpec proves stream==batch over a
    // two-wave MemoryStream arrival). This is the batch face; the
    // oracle replays the full 3-iteration training AND the windowed
    // apply — the margin threshold decides which docs enter which
    // window's census, so a one-unit training divergence moves rows
    // across the filter and breaks the hash.
    Q(
      "doc_stream_model_curate",
      (s, d) => {
        val docs = T(s, d, "documents")
        val model = QualityTrainer.train(docs, buckets = 256, iters = 3)
        graft.streaming.DocStreams.modelCurate(docs, model)
          .select(
            col("window.start").cast("long").as("window_s"),
            col("source"), col("n_docs"), col("sum_margin_e6"))
          .orderBy(col("window_s"), col("source"))
      },
      Some(s"""
        WITH ${gdReplayCtes()},
        kept AS (
          SELECT m.id, m.margin, d.source
          FROM m_final m JOIN documents d ON m.id = d.doc_id
          WHERE m.margin >= 0
        )
        SELECT (id // 60) * 3600 AS window_s, source,
               COUNT(*) AS n_docs, CAST(SUM(margin) AS BIGINT) AS sum_margin_e6
        FROM kept GROUP BY 1, 2 ORDER BY window_s, source
      """),
    ),
    // TRAIN → SCORE → FILTER COMPOSED end-to-end: the model-based filter
    // a real curation pipeline runs — QualityTrainer.train's 3 GD steps
    // produce the frozen weights, score applies them corpus-wide, the
    // pred_pass gate keeps margin >= 0 docs, and a per-source census
    // summarizes what survived. The oracle replays ALL of it: the full
    // 3-iteration training (gdReplayCtes), the final margins, the
    // filter, and the census — a wrong update in ANY of the 3×(forward+
    // backward) steps changes which docs pass and breaks the hash.
    // Scale shape: training is K ≤257-group scans (no corpus shuffle);
    // apply+filter is a narrow map; the census is ONE small hash agg.
    Q(
      "doc_pipeline_curate_v4",
      (s, d) => {
        val docs = T(s, d, "documents")
        val model = QualityTrainer.train(docs, buckets = 256, iters = 3)
        QualityTrainer.score(docs, model)
          .filter(col("pred_pass") === 1)
          .join(docs.select(col("doc_id"), col("source"), col("text")), "doc_id")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("bigint")).as("total_tokens"),
            sum(col("margin_e6")).as("sum_margin_e6"),
            min(col("doc_id")).as("first_kept"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH ${gdReplayCtes()},
        kept AS (
          SELECT m.id, m.margin, d.source,
                 CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n
          FROM m_final m JOIN documents d ON m.id = d.doc_id
          WHERE m.margin >= 0
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS total_tokens,
               CAST(SUM(margin) AS BIGINT) AS sum_margin_e6,
               MIN(id) AS first_kept
        FROM kept GROUP BY source ORDER BY source
      """),
    ),
    // STREAMING NEAR-DUP GATE, batch face: banded md5-minhash LSH dedup
    // with the parallel min-id-owns-the-bucket rule — the exact semantics
    // DocStreams.nearDupGate holds on an unbounded feed with O(buckets-
    // in-horizon) TTL'd state (DocStreamsSpec pins stream==batch over a
    // two-wave arrival and stateOperators == 2). Corpus carries injected
    // exact copies (identical text ⇒ identical fps in every band ⇒ the
    // copy loses all its buckets to the base doc), and the oracle
    // recomputes all 6 minhash chains + band fps + ownership from
    // scratch, so a single hash/ownership divergence moves a verdict.
    Q(
      "doc_stream_neardup",
      (s, d) => {
        val base = T(s, d, "documents").select(col("doc_id"), col("source"), col("text"))
        val copies = base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + DupOffset).as("doc_id"), col("source"), col("text"))
        graft.streaming.DocStreams.nearDupGate(base.unionByName(copies))
          .select(
            col("window.start").cast("long").as("window_s"),
            col("doc_id"), col("is_dup"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + $DupOffset, text FROM documents WHERE doc_id % 10 = 0
        ), toks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM corpus
        ), fps AS (
          SELECT doc_id, b.band,
                 md5(list_aggregate(list_transform(ts,
                       t -> md5((b.band * 2) || ':' || t)), 'min')
                     || '|' ||
                     list_aggregate(list_transform(ts,
                       t -> md5((b.band * 2 + 1) || ':' || t)), 'min')) AS fp
          FROM toks CROSS JOIN (SELECT unnest(range(3)) AS band) b
        ), owners AS (
          SELECT band, fp, MIN(doc_id) AS owner FROM fps GROUP BY 1, 2
        )
        SELECT (f.doc_id // 60) * 3600 AS window_s, f.doc_id,
               CAST(MAX(CASE WHEN o.owner <> f.doc_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS is_dup
        FROM fps f JOIN owners o USING (band, fp)
        GROUP BY 1, 2 ORDER BY f.doc_id
      """),
    ),
    // SEEDED GLOBAL SHUFFLE: full per-document (shard, pos) assignment —
    // the training-shard placement is a pure function of (seed, doc_id),
    // so the oracle recomputes the ENTIRE assignment from scratch and a
    // single misplaced document breaks the hash. Scale shape: hash-mod
    // shard (no global sort anywhere) + per-shard window — ONE exchange,
    // per-task state = one shard (see CorpusShuffle).
    Q(
      "doc_shuffle_assign",
      (s, d) =>
        graft.operators.CorpusShuffle.assign(T(s, d, "documents"), 8, "r16seed")
          .select(col("doc_id"), col("shard"), col("pos"))
          .orderBy(col("shard"), col("pos")),
      Some("""
        WITH keyed AS (
          SELECT doc_id, md5('r16seed:' || doc_id) AS k FROM documents
        ), sh AS (
          SELECT doc_id, k, CAST('0x' || substr(k, 1, 8) AS BIGINT) % 8 AS shard
          FROM keyed
        )
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
        FROM sh ORDER BY shard, pos
      """),
    ),
    // SHARD MANIFEST + decorrelation evidence: per-shard doc/token totals
    // (balls-in-bins balance, measured not asserted) and `same_src_adj` —
    // adjacent same-source pairs in the shard's read order, the quantity
    // the seeded shuffle exists to drive down from the crawl's
    // source-contiguous ordering. nShards rows total: a bounded
    // driver-facing summary, never the corpus.
    Q(
      "doc_shuffle_shards",
      (s, d) =>
        graft.operators.CorpusShuffle.manifest(
          T(s, d, "documents"), 8, "r16seed",
          size(split(col("text"), " ")).cast("bigint")),
      Some("""
        WITH keyed AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                 md5('r16seed:' || doc_id) AS k
          FROM documents
        ), sh AS (
          SELECT doc_id, source, toks, k,
                 CAST('0x' || substr(k, 1, 8) AS BIGINT) % 8 AS shard
          FROM keyed
        ), ordered AS (
          SELECT shard, source, toks, k,
                 LAG(source) OVER (PARTITION BY shard ORDER BY k, doc_id) AS prev_src
          FROM sh
        )
        SELECT shard, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens,
               CAST(COALESCE(SUM(CASE WHEN prev_src = source THEN 1 ELSE 0 END), 0)
                 AS BIGINT) AS same_src_adj,
               MIN(k) AS first_key, MAX(k) AS last_key
        FROM ordered GROUP BY 1 ORDER BY shard
      """),
    ),
  )
}
