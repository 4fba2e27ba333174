package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Mechanized plan pins: the shuffle-exchange counts the engine's
  * scale-critical queries are DESIGNED to have. The ScalaTest specs
  * assert these shapes, and [[graft.Bench]] also counts exchanges from
  * each pinned query's physical plan and emits measured-vs-pinned into
  * the bench JSON (`plan_pins` + `plan_pins_ok`). A plan regression (a
  * new Exchange sneaking into a pinned query) then fails loudly in the
  * artifact itself.
  */
object PlanAudit {

  /** Shuffle-exchange count of `df`'s physical plan, by tree traversal
    * (not string matching): AQE wrappers are unwrapped
    * ([[AdaptiveSparkPlanExec]] to its current plan, [[QueryStageExec]]
    * to its materialized subtree), [[ReusedExchangeExec]] is excluded
    * (it re-reads shuffle output, it does not re-shuffle), and every
    * [[ShuffleExchangeLike]] counts once. On an unexecuted DataFrame
    * this is the initial AQE plan — the shape the pins assert; AQE can
    * only remove or locally replan exchanges at runtime, never add one.
    */
  def shuffleExchanges(df: DataFrame): Int =
    count(df.queryExecution.executedPlan)

  private def count(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => count(a.executedPlan)
    case s: QueryStageExec => count(s.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike => 1 + e.children.map(count).sum + subq(e)
    case other => other.children.map(count).sum + subq(other)
  }

  private def subq(p: SparkPlan): Int = p.subqueries.map(count).sum

  /** Every node of the physical plan, with AQE wrappers unwrapped the same
    * way [[count]] unwraps them and subquery plans included — the
    * traversal behind the structural shape pins.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other =>
      other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  /** One structural plan pin: a named predicate with its evidence. */
  final case class Shape(ok: Boolean, detail: String)

  /** The anti-join must broadcast its (ids-only) exclusion list — a
    * sort-merge or shuffled-hash LeftAnti means the CORPUS started
    * shuffling for the subtraction, the silent scale regression the
    * dedup-survivor operators exist to avoid.
    */
  def broadcastAntiShape(df: DataFrame): Shape = {
    val ns = nodes(df.queryExecution.executedPlan)
    val bcast = ns.count {
      case b: BroadcastHashJoinExec => b.joinType == LeftAnti
      case _ => false
    }
    val shuffled = ns.count {
      case s: SortMergeJoinExec => s.joinType == LeftAnti
      case s: ShuffledHashJoinExec => s.joinType == LeftAnti
      case _ => false
    }
    Shape(bcast >= 1 && shuffled == 0, s"bcast_anti=$bcast shuffled_anti=$shuffled")
  }

  /** The persisted-IVF lists scan must be PARTITION-PRUNED to the probed
    * lists: exactly one list_id-partitioned parquet scan, carrying a
    * partition filter whose probed-list IN-set the pruning provably
    * honored — selected partitions == the filter's distinct list ids
    * (every probed id exists as a partition: ids come from centroid
    * assignment over the same data). This pins "pruning works" without
    * coupling to fixture luck over WHICH lists the probes drew: if the
    * probes happen to cover all nLists, expected == total == selected and
    * the pin still holds; if pushdown breaks (the filter demoting to a
    * post-scan predicate), partitionFilters is empty or selected == total
    * with a smaller IN-set, and the pin trips.
    */
  def ivfPrunedScanShape(df: DataFrame): Shape = {
    val scans = nodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.partitionSchema.fieldNames.contains("list_id") => f
    }
    // a gate that uses the probe result twice (e.g. recall + a
    // deleted-absent audit over the same top-k) plans the pruned scan
    // twice — EVERY list scan must prune, however many there are
    if (scans.isEmpty) return Shape(ok = false, "no list_id-partitioned scan in plan")
    val per = scans.map { f =>
      val selected = f.selectedPartitions.partitionCount
      val total = f.relation.location.listFiles(Nil, Nil).length
      // the probed-list count, read off the partition filter itself
      // (the query builds it with isin over the collected probe set)
      val inSetSizes = f.partitionFilters.flatMap(_.collect {
        case in: org.apache.spark.sql.catalyst.expressions.In =>
          in.list.collect { case l: org.apache.spark.sql.catalyst.expressions.Literal => l.value }.distinct.size
        case s: org.apache.spark.sql.catalyst.expressions.InSet => s.hset.size
      })
      inSetSizes match {
        case Seq(expected) =>
          (f.partitionFilters.nonEmpty && selected == expected && expected <= total,
            s"selected=$selected expected=$expected total=$total")
        case other =>
          (false, s"filters=${other.size} selected=$selected total=$total")
      }
    }
    Shape(per.forall(_._1), s"scans=${scans.size} " + per.map(_._2).mkString("; "))
  }

  /** The equi-join strategies of `df`'s initial physical plan, INNER
    * joins only (the tombstone-merge LeftAnti rides every committed
    * layout read and would drown the signal): "broadcast", "sortmerge",
    * or "shuffledhash" per node, in traversal order. The
    * ANALYZE→planner bridge's flip evidence ([[ZStatsRule]]): fresh
    * live stats must turn the deleted-heavy layout side into a
    * broadcast build.
    */
  def innerJoinStrategies(df: DataFrame): Seq[String] =
    nodes(df.queryExecution.executedPlan).collect {
      case b: BroadcastHashJoinExec if b.joinType.sql == "INNER" => "broadcast"
      case s: SortMergeJoinExec if s.joinType.sql == "INNER" => "sortmerge"
      case s: ShuffledHashJoinExec if s.joinType.sql == "INNER" => "shuffledhash"
    }

  /** Candidate generation must stay BANDED: no Cartesian product and no
    * broadcast nested-loop join anywhere in the plan — either node means
    * a pair stream went all-pairs, the exact shape hamming-band /
    * LSH-bucket candidate generation exists to avoid.
    */
  def noAllPairsShape(df: DataFrame): Shape = {
    val ns = nodes(df.queryExecution.executedPlan)
    val cartesian = ns.count {
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec => true
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _ => false
    }
    Shape(cartesian == 0, s"cartesian_or_bnlj=$cartesian")
  }

  /** The corpus side must be Bloom-PREFILTERED before any join: at least
    * one FilterExec whose condition contains Spark's codegen'd
    * BloomFilterMightContain predicate. If the filter is optimized away
    * or demoted (e.g. the might-contain moved above the join), the
    * map-side prune that makes the decontamination shape broadcastable
    * at 100 TB is gone — and that regression should fail the artifact,
    * not just slow the query down.
    */
  def bloomPrefilterShape(df: DataFrame): Shape = {
    val filters = nodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    val bloomFilters = filters.count(_.condition.collectFirst {
      case _: org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain => ()
    }.nonEmpty)
    Shape(bloomFilters >= 1, s"bloom_might_contain_filters=$bloomFilters")
  }

  /** The sharded-store point lookup must touch ONE shard file and read
    * only its index plus one inner chunk's byte range — positioned-read
    * evidence from the lookup itself (the access pattern lives below the
    * Spark plan, so the pin checks the reader's own probe instead of
    * plan nodes, the same measured-evidence discipline as
    * [[ivfPrunedScanShape]]'s selected-partitions check). Reading the
    * whole shard (bytesRead == fileBytes with a compressed body) or
    * touching several shards would mean the index addressing regressed
    * to a scan.
    */
  def shardedPointShape(df: DataFrame): Shape = {
    val store = graft.queries.VolumeQueries.zarr3ShardedStore(df.sparkSession)
    val p = graft.volume.Zarr3Store.pointLookupSharded(store, 9, 9, 9)
    Shape(
      p.shardsOpened == 1 && p.bytesRead > 0 && p.bytesRead < p.fileBytes,
      s"shards_opened=${p.shardsOpened} bytes_read=${p.bytesRead} file_bytes=${p.fileBytes}")
  }

  /** The sharded ROI read must PRUNE below its decode: in the query's
    * own executed plan the crop's geometry filter sits under the decode
    * projection, and the inner cells it keeps — executed over that
    * filtered geometry alone — are the ones the box meets (12 of the 64
    * planned, in 4 of 8 shards). Each kept cell loads through the same
    * one-cell shard reader as the point lookup, so the bytes clause is
    * [[shardedPointShape]]'s.
    */
  def shardedBoxShape(df: DataFrame): Shape = {
    implicit val fc: graft.io.FioConf = graft.io.FioConf.of(df.sparkSession)
    val store = graft.queries.VolumeQueries.zarr3ShardedStore(df.sparkSession)
    val (zm, sh) = graft.volume.Zarr3Store.parseZarrJsonAny(
      graft.io.Fio.readString(graft.io.Fio.child(store, "zarr.json")))
    val perShard = sh.get.innerGridPerShard(zm.chunks)
    val all = nodes(df.queryExecution.executedPlan)
    val planned = all.collect { case r: RangeExec => r.range.numElements }.sum
    val decode = all.collectFirst {
      case p: ProjectExec if p.projectList.exists(_.find(_.isInstanceOf[ScalaUDF]).nonEmpty) => p
    }
    val filtered = decode.exists(_.child.find(_.isInstanceOf[FilterExec]).nonEmpty)
    val kept = decode.toSeq.flatMap { d =>
      val geometry = ProjectExec(d.projectList.filter(_.find(_.isInstanceOf[ScalaUDF]).isEmpty), d.child)
      val at = Seq("cz", "cy", "cx").map(n => geometry.output.indexWhere(_.name == n))
      geometry.executeCollect().toSeq.map(r => at.map(r.getInt))
    }
    val shards = kept.map(_.zip(perShard).map { case (c, n) => c / n }).distinct.size
    Shape(
      filtered && shards == 4 && zm.gridShape.product == 8 && kept.size == 12 && planned == 64,
      s"shards=$shards/${zm.gridShape.product} inner=${kept.size}/$planned filter_below_decode=$filtered")
  }

  /** Structural pins, keyed by registered query name — asserted by
    * PlanAuditSpec and emitted measured-vs-pinned into the bench JSON
    * (`shape_pins` / `shape_pins_ok`) like the exchange counts.
    */
  /** Multi-file WARC intake must keep BOTH branches of the mixed corpus
    * read (indexed-split fan-out + sequential per-file tasks) and fan
    * the intake out to at least as many tasks as the fixture has files
    * (3): evidence is the round-robin repartition exchanges the two
    * branches plant — their partition counts ARE the intake task
    * counts. A single-branch plan (a shard silently dropped or the
    * union collapsed) or a parallelism collapse below the file count
    * fails the artifact.
    */
  def warcMultiIntakeShape(df: DataFrame): Shape = {
    val parts = nodes(df.queryExecution.executedPlan).collect {
      // The sequential branch with a single sidecar-less shard plans its
      // repartition(1) as SinglePartition, not RoundRobinPartitioning(1) —
      // count both so a one-file branch still registers as a branch.
      case e: ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] ||
          e.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition =>
        e.outputPartitioning.numPartitions
    }
    val branches = parts.length
    val tasks = parts.sum
    Shape(branches >= 2 && tasks >= 3,
      s"intake_branches=$branches intake_tasks=$tasks")
  }

  /** The z-order layout must SKIP FILES: cluster a synthetic 2-D table
    * (100k rows, 32 files), probe a ~1.2%-area box through the manifest,
    * and demand (a) few files touched, (b) strictly fewer than total,
    * (c) row-exact results vs the direct filter — measured evidence from
    * the operator's own skip probe, the same below-the-plan discipline
    * as [[shardedPointShape]] (vanilla Spark file pruning can't see
    * min/max stats, so the skip lives in the reader's file list).
    */
  def zorderSkipShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_zshape_probe").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"), (col("id") % 317).as("x"), ((col("id") * 7919) % 331).as("y"))
    graft.operators.ZOrder.cluster(src, Seq("x", "y"), nFiles = 32, out)
    val (pruned, probe) = graft.operators.ZOrder.prunedRead(
      spark, out, Seq(("x", 50L, 80L), ("y", 100L, 140L)))
    val rows = pruned.count()
    val direct = src.filter(col("x").between(50, 80) && col("y").between(100, 140)).count()
    Shape(
      probe.filesSelected <= 12 && probe.filesSelected < probe.filesTotal && rows == direct,
      s"files=${probe.filesSelected}/${probe.filesTotal} rows=$rows direct=$direct")
  }

  /** The z-order LIFECYCLE must keep skipping row-exact through an
    * append (frozen bounds, superset-guarantee skipping) and RESTORE
    * locality after compaction — the same synthetic probe as
    * [[zorderSkipShape]], driven through cluster-half → append-half →
    * compact, with the compacted layout held to the fresh layout's
    * skip bound.
    */
  def zorderLifecycleShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val tmp = System.getProperty("java.io.tmpdir")
    val out = new java.io.File(tmp, "graft_zlife_probe").getAbsolutePath
    val dest = new java.io.File(tmp, "graft_zlife_probe_c").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"), (col("id") % 317).as("x"), ((col("id") * 7919) % 331).as("y"))
    val box = Seq(("x", 50L, 80L), ("y", 100L, 140L))
    graft.operators.ZOrder.cluster(
      src.filter(col("id") % 2 === 0), Seq("x", "y"), nFiles = 16, out)
    graft.operators.ZOrder.append(
      src.filter(col("id") % 2 === 1), Seq("x", "y"), out, nFiles = 4)
    val (appended, ap) = graft.operators.ZOrder.prunedRead(spark, out, box)
    graft.operators.ZOrder.compact(spark, out, dest, Seq("x", "y"), nFiles = 32)
    val (compacted, cp) = graft.operators.ZOrder.prunedRead(spark, dest, box)
    val direct = src.filter(col("x").between(50, 80) && col("y").between(100, 140)).count()
    val aRows = appended.count()
    val cRows = compacted.count()
    Shape(
      aRows == direct && cRows == direct
        && ap.filesTotal == 20 && cp.filesSelected <= 12 && cp.filesTotal == 32,
      s"append_files=${ap.filesSelected}/${ap.filesTotal} " +
        s"compact_files=${cp.filesSelected}/${cp.filesTotal} " +
        s"rows=$aRows/$cRows direct=$direct")
  }

  /** Hilbert must skip about as few files as Morton on the identical
    * synthetic probe (its defining locality edge: consecutive curve
    * positions are always grid-adjacent, so per-file boxes are squarer)
    * — both layouts built fresh, both measured, compared head to head
    * with a one-file margin: repartitionByRange SAMPLES its boundaries
    * (no fixed seed), so either layout's file cuts jitter by ±1 file
    * across builds; the margin absorbs exactly that, while a locality
    * regression (quadrant-jump key math) shows up as several files.
    */
  def hilbertSkipShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val tmp = System.getProperty("java.io.tmpdir")
    val outM = new java.io.File(tmp, "graft_zshape_probe").getAbsolutePath
    val outH = new java.io.File(tmp, "graft_zshape_probe_h").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"), (col("id") % 317).as("x"), ((col("id") * 7919) % 331).as("y"))
    val box = Seq(("x", 50L, 80L), ("y", 100L, 140L))
    graft.operators.ZOrder.cluster(src, Seq("x", "y"), nFiles = 32, outM)
    graft.operators.ZOrder.cluster(src, Seq("x", "y"), nFiles = 32, outH, curve = "hilbert")
    val (mDf, m) = graft.operators.ZOrder.prunedRead(spark, outM, box)
    val (hDf, h) = graft.operators.ZOrder.prunedRead(spark, outH, box)
    val (mRows, hRows) = (mDf.count(), hDf.count())
    Shape(
      h.filesSelected <= m.filesSelected + 1 && h.filesSelected <= 12
        && h.filesSelected < h.filesTotal && hRows == mRows,
      s"hilbert=${h.filesSelected}/${h.filesTotal} morton=${m.filesSelected}/${m.filesTotal} rows=$hRows")
  }

  /** Quantile (equi-depth) lanes must convert the skew failure mode into
    * a kept bound, measured head to head: the same deliberately skewed
    * corpus (x = 2^(id mod 20) — 60 % of rows in the bottom sliver of the
    * linear value range) is clustered BOTH ways and probed on one x
    * value. Linear lanes must measurably LOSE the bound (the z-key
    * degenerates to a y-sort, the probe touches ~every file) while
    * quantile lanes keep it, both row-exact. The pin then re-appends the
    * corpus through the FROZEN `_zqbounds` boundary table and demands
    * every id carry exactly one distinct key across its two copies —
    * frozen-boundary append parity, below the plan like every skip probe.
    */
  def zorderQuantileSkewShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{col, countDistinct, expr, lit}
    val tmp = System.getProperty("java.io.tmpdir")
    val outL = new java.io.File(tmp, "graft_zq_linear").getAbsolutePath
    val outQ = new java.io.File(tmp, "graft_zq_quantile").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 20 AS INT))").as("x"),
      ((col("id") * 7919) % 331).as("y"))
    graft.operators.ZOrder.cluster(src, Seq("x", "y"), nFiles = 32, outL)
    graft.operators.ZOrder.clusterQuantile(src, Seq("x", "y"), nFiles = 32, outQ)
    val box = Seq(("x", 32L, 32L))
    val (lDf, l) = graft.operators.ZOrder.prunedRead(spark, outL, box)
    val (qDf, q) = graft.operators.ZOrder.prunedRead(spark, outQ, box)
    val direct = src.filter(col("x") === 32).count()
    val (lRows, qRows) = (lDf.count(), qDf.count())
    graft.operators.ZOrder.appendQuantile(src, Seq("x", "y"), outQ, nFiles = 4)
    val parityBad = spark.read.parquet(outQ).groupBy("id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        countDistinct(col("zkey")).as("nk"))
      .filter(col("n") =!= 2 || col("nk") =!= 1).count()
    Shape(
      q.filesSelected <= 14 && l.filesSelected >= 20 && q.filesSelected * 2 <= l.filesSelected
        && lRows == direct && qRows == direct && parityBad == 0,
      s"quantile=${q.filesSelected}/${q.filesTotal} linear=${l.filesSelected}/${l.filesTotal} " +
        s"rows=$qRows/$lRows direct=$direct append_parity_bad=$parityBad")
  }

  /** The QUANTILE lifecycle must restore the skew-robust skip bound
    * post-compaction — [[zorderLifecycleShape]]'s equi-depth twin on the
    * deliberately skewed corpus: clusterQuantile the even half (CDF
    * trained there), appendQuantile the odd half through FROZEN
    * boundaries (probes stay row-exact mid-lifecycle — appended files
    * merely widen envelopes), then compactQuantile with RETRAINED
    * boundaries and demand the full quantile skip bound back (≤14/32,
    * the [[zorderQuantileSkewShape]] bound) — all probes row-exact.
    */
  def zquantileLifecycleShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{col, expr}
    val tmp = System.getProperty("java.io.tmpdir")
    val out = new java.io.File(tmp, "graft_zqlife_probe").getAbsolutePath
    val dest = new java.io.File(tmp, "graft_zqlife_probe_c").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 20 AS INT))").as("x"),
      ((col("id") * 7919) % 331).as("y"))
    val box = Seq(("x", 32L, 32L))
    graft.operators.ZOrder.clusterQuantile(
      src.filter(col("id") % 2 === 0), Seq("x", "y"), nFiles = 16, out)
    graft.operators.ZOrder.appendQuantile(
      src.filter(col("id") % 2 === 1), Seq("x", "y"), out, nFiles = 4)
    val (appended, ap) = graft.operators.ZOrder.prunedRead(spark, out, box)
    graft.operators.ZOrder.compactQuantile(spark, out, dest, Seq("x", "y"), nFiles = 32)
    val (compacted, cp) = graft.operators.ZOrder.prunedRead(spark, dest, box)
    val direct = src.filter(col("x") === 32).count()
    val aRows = appended.count()
    val cRows = compacted.count()
    Shape(
      aRows == direct && cRows == direct
        // ≤16 of 32, not the ≤14 seen on most runs: repartitionByRange
        // boundaries come from a time-seeded sample (XORShiftRandom in
        // RangePartitioner.sketch), so the per-file value spans drift a
        // file or two run to run — the bound pins the STRUCTURAL claim
        // (quantile lanes keep the one-value probe to AT MOST half the
        // layout where the linear twin measures 30–31/32) with the
        // sampling margin the other curve probes already carry
        && ap.filesTotal == 20 && cp.filesTotal == 32 && cp.filesSelected <= 16,
      s"append_files=${ap.filesSelected}/${ap.filesTotal} " +
        s"compact_files=${cp.filesSelected}/${cp.filesTotal} " +
        s"rows=$aRows/$cRows direct=$direct")
  }

  /** Streaming quantile ingest must keep skipping row-exact BETWEEN
    * batches — the q34 contract below the plan: bootstrap a frozen-
    * boundary layout on the even half, land the odd half in sequential
    * appendQuantile batches (the foreachBatch unit of work), and probe
    * the layout after EVERY batch: row-exact at each point, and the
    * probe must never lose the superset guarantee or the skip win on
    * the final layout.
    */
  def zquantileStreamShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{col, expr}
    val tmp = System.getProperty("java.io.tmpdir")
    val out = new java.io.File(tmp, "graft_zqstream_probe").getAbsolutePath
    def shaped(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 20 AS INT))").as("x"),
      ((col("id") * 7919) % 331).as("y"))
    graft.operators.ZOrder.clusterQuantile(shaped(0, 50000), Seq("x", "y"),
      nFiles = 16, out)
    val batches = Seq((50000L, 66000L), (66000L, 83000L), (83000L, 100000L))
    val box = Seq(("x", 32L, 32L))
    var exact = true
    val details = new scala.collection.mutable.ArrayBuffer[String]
    batches.foreach { case (lo, hi) =>
      graft.operators.ZOrder.appendQuantile(shaped(lo, hi), Seq("x", "y"), out, nFiles = 1)
      val (got, p) = graft.operators.ZOrder.prunedRead(spark, out, box)
      val want = (0L until hi).count(_ % 20 == 5).toLong // x == 32 <=> id % 20 == 5
      val rows = got.count()
      exact &&= rows == want && p.filesSelected < p.filesTotal
      details += s"${p.filesSelected}/${p.filesTotal}:$rows/$want"
    }
    Shape(exact, s"per_batch=${details.mkString(" ")}")
  }

  /** The 3-column Morton layout must skip files on a 3-D box probe:
    * cluster a synthetic 3-D table (100k rows, 32 files, three coprime
    * value lanes), probe a ~2%-volume box through the manifest on ALL
    * THREE columns, and demand few files, strictly fewer than total, and
    * row-exact results — the q24 evidence pattern taken past 2-D.
    */
  def zorder3SkipShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_z3shape_probe").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"), (col("id") % 101).as("x"), ((col("id") * 7919) % 103).as("y"),
      ((col("id") * 104729) % 97).as("z"))
    graft.operators.ZOrder.cluster(src, Seq("x", "y", "z"), nFiles = 32, out, bits = 8)
    val box = Seq(("x", 20L, 40L), ("y", 30L, 60L), ("z", 10L, 40L))
    val (pruned, probe) = graft.operators.ZOrder.prunedRead(spark, out, box)
    val rows = pruned.count()
    val direct = src.filter(col("x").between(20, 40) && col("y").between(30, 60)
      && col("z").between(10, 40)).count()
    Shape(
      probe.filesSelected <= 14 && probe.filesSelected < probe.filesTotal && rows == direct,
      s"files=${probe.filesSelected}/${probe.filesTotal} rows=$rows direct=$direct")
  }

  /** The quantile × 3-D-Hilbert COMPOSITION must keep the skew story in
    * 3-D: the same deliberately skewed corpus pattern as
    * [[zorderQuantileSkewShape]] (x = 2^(id mod 20)) plus two well-spread
    * lanes, clustered as a hilbert3 layout BOTH ways. The one-value probe
    * on x must measurably lose the bound under linear lanes (60 % of rows
    * share the bottom sliver of the value range, so the x lane carries no
    * information and the probe touches ~every file) and keep it under
    * quantile lanes, both row-exact; then the frozen `_zqbounds` append
    * parity check rides on top, through the hilbert3 kernel path.
    */
  def quantileHilbert3SkewShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{col, countDistinct, expr, lit}
    val tmp = System.getProperty("java.io.tmpdir")
    val outL = new java.io.File(tmp, "graft_zq3_linear").getAbsolutePath
    val outQ = new java.io.File(tmp, "graft_zq3_quantile").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 20 AS INT))").as("x"),
      ((col("id") * 7919) % 103).as("y"),
      ((col("id") * 104729) % 97).as("z"))
    graft.operators.ZOrder.cluster(
      src, Seq("x", "y", "z"), nFiles = 32, outL, bits = 8, curve = "hilbert")
    graft.operators.ZOrder.clusterQuantile(
      src, Seq("x", "y", "z"), nFiles = 32, outQ, bits = 8, curve = "hilbert")
    val box = Seq(("x", 32L, 32L))
    val (lDf, l) = graft.operators.ZOrder.prunedRead(spark, outL, box)
    val (qDf, q) = graft.operators.ZOrder.prunedRead(spark, outQ, box)
    val direct = src.filter(col("x") === 32).count()
    val (lRows, qRows) = (lDf.count(), qDf.count())
    graft.operators.ZOrder.appendQuantile(
      src, Seq("x", "y", "z"), outQ, nFiles = 4, bits = 8, curve = "hilbert")
    val parityBad = spark.read.parquet(outQ).groupBy("id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        countDistinct(col("zkey")).as("nk"))
      .filter(col("n") =!= 2 || col("nk") =!= 1).count()
    Shape(
      q.filesSelected <= 16 && l.filesSelected >= 20 && q.filesSelected * 2 <= l.filesSelected
        && lRows == direct && qRows == direct && parityBad == 0,
      s"quantile_h3=${q.filesSelected}/${q.filesTotal} linear_h3=${l.filesSelected}/${l.filesTotal} " +
        s"rows=$qRows/$lRows direct=$direct append_parity_bad=$parityBad")
  }

  /** The Bloom sidecar must prune files on a point predicate the curve
    * does NOT cluster — measured against the envelope path on the same
    * layout: a unique-key lookup through `_zmanifest` min/max keeps
    * EVERY file (the layout is clustered by other columns, so each
    * file spans ~the full key range — and the manifest carries no
    * stats for the key at all), while the `_zbloom` membership test
    * keeps only the files that can contain the probed keys plus Bloom
    * false positives (≤6 of 32 at the sidecar's default 16 bits/key),
    * row-exact against the direct filter.
    */
  def bloomSkipShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_zbloom_probe").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"), (col("id") % 317).as("x"), ((col("id") * 7919) % 331).as("y"))
    graft.operators.ZOrder.cluster(src, Seq("x", "y"), nFiles = 32, out)
    graft.operators.ZOrder.writeBloomSidecar(spark, out, Seq("id"))
    val keys = Seq(123L, 45678L, 99999L)
    val (bDf, b) = graft.operators.ZOrder.prunedReadPoint(spark, out, "id", keys)
    // the envelope path on the same predicate: no id stats in the
    // manifest, so every file survives — the gap is pure Bloom win
    val (_, m) = graft.operators.ZOrder.prunedRead(spark, out, Seq(("id", 123L, 123L)))
    val rows = bDf.count()
    val direct = src.filter(col("id").isin(keys: _*)).count()
    Shape(
      b.filesSelected <= 6 && b.filesSelected < b.filesTotal
        && m.filesSelected == m.filesTotal && rows == direct && rows == keys.length,
      s"bloom=${b.filesSelected}/${b.filesTotal} envelope=${m.filesSelected}/${m.filesTotal} " +
        s"rows=$rows direct=$direct")
  }

  /** 3-D Hilbert must skip about as few files as 3-D Morton on the
    * identical synthetic probe — the same head-to-head-with-sampling-
    * margin discipline as [[hilbertSkipShape]], one dimension up.
    */
  def hilbert3SkipShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val tmp = System.getProperty("java.io.tmpdir")
    val outM = new java.io.File(tmp, "graft_z3shape_probe").getAbsolutePath
    val outH = new java.io.File(tmp, "graft_z3shape_probe_h").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"), (col("id") % 101).as("x"), ((col("id") * 7919) % 103).as("y"),
      ((col("id") * 104729) % 97).as("z"))
    val box = Seq(("x", 20L, 40L), ("y", 30L, 60L), ("z", 10L, 40L))
    graft.operators.ZOrder.cluster(src, Seq("x", "y", "z"), nFiles = 32, outM, bits = 8)
    graft.operators.ZOrder.cluster(src, Seq("x", "y", "z"), nFiles = 32, outH, bits = 8,
      curve = "hilbert")
    val (mDf, m) = graft.operators.ZOrder.prunedRead(spark, outM, box)
    val (hDf, h) = graft.operators.ZOrder.prunedRead(spark, outH, box)
    val (mRows, hRows) = (mDf.count(), hDf.count())
    Shape(
      h.filesSelected <= m.filesSelected + 1 && h.filesSelected <= 14
        && h.filesSelected < h.filesTotal && hRows == mRows,
      s"hilbert3=${h.filesSelected}/${h.filesTotal} morton3=${m.filesSelected}/${m.filesTotal} rows=$hRows")
  }

  /** Row-level deletes must be tombstones, not rewrites: after
    * deleteWhere, (1) the data files still hold every original row,
    * (2) the delete-merged read and a PRUNED read both return exactly
    * the survivors (the anti-join composes with file skipping), and
    * (3) a dead key probed through the Bloom sidecar returns nothing
    * while a live one returns itself.
    */
  def zdeleteShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_zdel_probe").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"), (col("id") % 317).as("x"), ((col("id") * 7919) % 331).as("y"))
    graft.operators.ZOrder.cluster(src, Seq("x", "y"), nFiles = 16, out)
    graft.operators.ZOrder.writeBloomSidecar(spark, out, Seq("id"))
    val tombs = graft.operators.ZOrder.deleteWhere(spark, out, col("id") % 3 === 0)
    val raw = spark.read.parquet(out).count()
    val live = graft.operators.ZOrder.readWithDeletes(spark, out).count()
    val (boxDf, p) = graft.operators.ZOrder.prunedRead(spark, out, Seq(("x", 50L, 80L)))
    val boxRows = boxDf.count()
    val boxWant = src.filter(col("x").between(50, 80) && col("id") % 3 =!= 0).count()
    val (pt, _) = graft.operators.ZOrder.prunedReadPoint(spark, out, "id", Seq(9L, 10L))
    val ptIds = pt.select("id").collect().map(_.getLong(0)).toSeq
    Shape(
      raw == 100000L && tombs == 33334L && live == 66666L
        && boxRows == boxWant && p.filesSelected < p.filesTotal
        && ptIds == Seq(10L),
      s"raw=$raw tombstones=$tombs live=$live box=$boxRows/$boxWant " +
        s"files=${p.filesSelected}/${p.filesTotal} point=${ptIds.mkString(",")}")
  }

  /** Compaction must apply tombstones PHYSICALLY: the fresh layout
    * holds survivors only, carries no `_zdeletes`, and keeps the skip
    * bound — a compacted deleted layout is indistinguishable from a
    * fresh clustering of the survivor set.
    */
  def zdeleteCompactShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val tmp = System.getProperty("java.io.tmpdir")
    val out = new java.io.File(tmp, "graft_zdelcomp_probe").getAbsolutePath
    val dest = new java.io.File(tmp, "graft_zdelcomp_probe_out").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"), (col("id") % 317).as("x"), ((col("id") * 7919) % 331).as("y"))
    graft.operators.ZOrder.cluster(src, Seq("x", "y"), nFiles = 16, out)
    graft.operators.ZOrder.deleteWhere(spark, out, col("id") % 3 === 0)
    graft.operators.ZOrder.compact(spark, out, dest, Seq("x", "y"), nFiles = 16)
    val rows = spark.read.parquet(dest).count()
    implicit val fc: graft.io.FioConf = graft.io.FioConf.of(spark)
    val noSidecar = !graft.io.Fio.exists(s"$dest/_zdeletes")
    val (boxDf, p) = graft.operators.ZOrder.prunedRead(spark, dest, Seq(("x", 50L, 80L)))
    val boxRows = boxDf.count()
    val boxWant = src.filter(col("x").between(50, 80) && col("id") % 3 =!= 0).count()
    Shape(
      rows == 66666L && noSidecar && boxRows == boxWant
        && p.filesSelected < p.filesTotal,
      s"rows=$rows no_sidecar=$noSidecar box=$boxRows/$boxWant " +
        s"files=${p.filesSelected}/${p.filesTotal}")
  }

  /** MERGE must be merge-on-read and replay-idempotent: after the
    * upsert (and after a full replay of the SAME batch id) the live
    * view holds every key exactly once with the updated values, while
    * the raw dir still holds both generations — no data file was
    * rewritten. The crash-window replay (marker deleted) must converge
    * to the same state.
    */
  def zmergeShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_zmerge_probe").getAbsolutePath
    val src = spark.range(100000).select(
      col("id"), (col("id") % 317).as("x"), ((col("id") * 7919) % 331).as("y"))
    graft.operators.ZOrder.clusterQuantile(src, Seq("x", "y"), nFiles = 16, out)
    val updates = src.filter(col("id") % 10 === 0)
      .withColumn("y", col("y") + 1000)
      .select(col("id"), col("x"), col("y"))
    def state(): (Long, Long, Long, Long) = {
      val live = graft.operators.ZOrder.readWithDeletes(spark, out)
      (live.count(),
        live.groupBy("id").count().filter(col("count") =!= 1).count(),
        live.filter(col("id") % 10 === 0 && col("y") < 1000).count(),
        spark.read.parquet(out).count())
    }
    graft.operators.ZOrder.mergeInto(spark, out, updates,
      keys = Seq("id"), cols = Seq("x", "y"), batchId = 0L)
    val first = state()
    // full replay of the same batch id must be a no-op
    graft.operators.ZOrder.mergeInto(spark, out, updates,
      keys = Seq("id"), cols = Seq("x", "y"), batchId = 0L)
    val replay = state()
    // crash window: marker gone, the replay republishes and converges
    graft.io.Fio.delete(s"$out/_zbatches/0")(graft.io.FioConf.of(spark))
    graft.operators.ZOrder.mergeInto(spark, out, updates,
      keys = Seq("id"), cols = Seq("x", "y"), batchId = 0L)
    val crash = state()
    val want = (100000L, 0L, 0L, 110000L)
    Shape(
      first == want && replay == want && crash == want,
      s"live/dupkeys/stale/raw first=$first replay=$replay crash=$crash")
  }

  /** Delete-aware snapshots must see exactly their version's lineage:
    * tombstones stamped after the snapshot are invisible, earlier ones
    * apply, the default read stays pre-delete, and a merge's tombstones
    * ride its own batch id (version-atomic upsert).
    */
  def zasofDeleteShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_zasofdel_probe").getAbsolutePath
    def shaped(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id"), (col("id") % 317).as("x"), ((col("id") * 7919) % 331).as("y"))
    graft.operators.ZOrder.clusterQuantile(shaped(0, 50000), Seq("x", "y"),
      nFiles = 16, out)
    graft.operators.ZOrder.appendQuantileOnce(shaped(50000, 60000), Seq("x", "y"),
      out, batchId = 0)
    graft.operators.ZOrder.deleteWhere(spark, out, col("id") % 9 === 4)
    graft.operators.ZOrder.appendQuantileOnce(shaped(60000, 70000), Seq("x", "y"),
      out, batchId = 1)
    graft.operators.ZOrder.deleteWhere(spark, out, col("id") % 9 === 7)
    val preDelete = graft.operators.ZOrder.readAsOfBatch(spark, out, 0L).count()
    val v0 = graft.operators.ZOrder.readAsOfBatch(spark, out, 0L,
      applyDeletes = true).count()
    val v1 = graft.operators.ZOrder.readAsOfBatch(spark, out, 1L,
      applyDeletes = true).count()
    val current = graft.operators.ZOrder.readWithDeletes(spark, out).count()
    // each delete generation covers only the rows that existed when it
    // was issued: the version-0 delete never saw batch 1
    val w0 = (0L until 60000L).count(_ % 9 != 4).toLong
    val w1 = (0L until 70000L).count(i => !(i % 9 == 4 && i < 60000) && i % 9 != 7).toLong
    Shape(
      preDelete == 60000L && v0 == w0 && v1 == w1 && current == w1,
      s"pre=$preDelete v0=$v0/$w0 v1=$v1/$w1 current=$current")
  }

  /** Snapshot reads must select exactly the committed prefix, a crashed
    * (unmarked) publish must be invisible to EVERY snapshot, and vacuum
    * must reconcile the naive dir view with the committed view without
    * touching committed bytes.
    */
  def zasofVacuumShape(df: DataFrame): Shape = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{col, expr}
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_zasof_probe").getAbsolutePath
    def shaped(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 20 AS INT))").as("x"),
      ((col("id") * 7919) % 331).as("y"))
    graft.operators.ZOrder.clusterQuantile(shaped(0, 50000), Seq("x", "y"),
      nFiles = 16, out)
    graft.operators.ZOrder.appendQuantileOnce(shaped(50000, 60000), Seq("x", "y"),
      out, batchId = 0)
    graft.operators.ZOrder.appendQuantileOnce(shaped(60000, 70000), Seq("x", "y"),
      out, batchId = 1)
    graft.operators.ZOrder.appendQuantileOnce(shaped(70000, 80000), Seq("x", "y"),
      out, batchId = 2)
    // crashed publish: files + manifest rows landed, marker never did
    graft.operators.ZOrder.appendQuantileOnce(shaped(80000, 81000), Seq("x", "y"),
      out, batchId = 3)
    graft.io.Fio.delete(s"$out/_zbatches/3")(graft.io.FioConf.of(spark))
    val base = graft.operators.ZOrder.readAsOfBatch(spark, out, -1L).count()
    val asOf0 = graft.operators.ZOrder.readAsOfBatch(spark, out, 0L).count()
    val asOf1 = graft.operators.ZOrder.readAsOfBatch(spark, out, 1L).count()
    val committed = graft.operators.ZOrder.readCommitted(spark, out).count()
    val dirBefore = spark.read.parquet(out).count()
    val removed = graft.operators.ZOrder.vacuum(spark, out)
    val dirAfter = spark.read.parquet(out).count()
    val committedAfter = graft.operators.ZOrder.readCommitted(spark, out).count()
    Shape(
      base == 50000L && asOf0 == 60000L && asOf1 == 70000L && committed == 80000L
        && dirBefore == 81000L && removed.nonEmpty && dirAfter == 80000L
        && committedAfter == 80000L,
      s"base=$base asof0=$asOf0 asof1=$asOf1 committed=$committed " +
        s"dir=$dirBefore->$dirAfter vacuumed=${removed.size}")
  }

  val pinnedShapes: Map[String, DataFrame => Shape] = Map(
    "q35_zdelete_read" -> zdeleteShape,
    "q36_zdelete_compact" -> zdeleteCompactShape,
    "q37_zquantile_asof" -> zasofVacuumShape,
    "q38_zmerge_upsert" -> zmergeShape,
    "q39_zasof_deletes" -> zasofDeleteShape,
    "q24_zorder_keys" -> zorderSkipShape,
    "q27_zorder_quantile" -> zorderQuantileSkewShape,
    "q28_morton3_keys" -> zorder3SkipShape,
    "q29_hilbert3_keys" -> hilbert3SkipShape,
    "q30_hilbert3_quantile" -> quantileHilbert3SkewShape,
    "q31_bloom_skipping" -> bloomSkipShape,
    "q25_zorder_lifecycle" -> zorderLifecycleShape,
    "q33_zquantile_lifecycle" -> zquantileLifecycleShape,
    "q34_zquantile_stream" -> zquantileStreamShape,
    "q26_hilbert_keys" -> hilbertSkipShape,
    "doc_warc_multifile" -> warcMultiIntakeShape,
    "vol_zarr3_sharded_point" -> shardedPointShape,
    "vol_zarr3_sharded_box" -> shardedBoxShape,
    "doc_dedup_corpus" -> broadcastAntiShape,
    "doc_dedup_best" -> broadcastAntiShape,
    "emb_ivf_persisted" -> ivfPrunedScanShape,
    // two-level routing must not change WHAT is scanned: same
    // list_id-partition-pruned lists scan as the flat index
    "emb_ivf_2level" -> ivfPrunedScanShape,
    "emb_ivf_compacted" -> ivfPrunedScanShape,
    "emb_ivf_sq8_recall" -> ivfPrunedScanShape,
    // the PQ index shares the pruned-scan contract: probes must prune
    // the list_id-partitioned lists scan to the probed IN-set (the
    // refine stage's corpus re-scan is NOT list_id-partitioned, so the
    // "exactly 1 partitioned scan" clause still bites)
    "emb_ivf_pq_recall" -> ivfPrunedScanShape,
    "mm_phash_dedup" -> noAllPairsShape,
    // streaming gate's batch face: window-min ownership, never a
    // candidate-pair join — a cartesian/BNLJ here would mean the
    // verify stage regressed to all-pairs
    "mm_stream_neardup" -> noAllPairsShape,
    "mm_stream_mixed" -> noAllPairsShape,
    "mm_audio_dedup" -> noAllPairsShape,
    "mm_video_dedup" -> noAllPairsShape,
    "mm_mixed_dedup" -> noAllPairsShape,
    "doc_contamination_bloom" -> bloomPrefilterShape,
  )

  /** The pinned values, keyed by registered query name. Pins cover the
    * query AS REGISTERED for the gate — core operator exchanges (the
    * shapes the per-operator specs assert and PLANS.md motivates) PLUS
    * the gate wrapper's small-output reporting rollup and deterministic
    * orderBy (a rangepartitioning over a handful of rows). Any exchange
    * sneaking into either layer bumps the count and trips the artifact.
    *   - q22: bucketed-mirror co-located JOIN contributes ZERO exchanges
    *     (both sides carry the bucket layout); the 2 are the priority
    *     rollup + output sort.
    *   - doc_repetition: zero-exchange codegen'd scan; the 1 is the
    *     output sort.
    *   - ev_funnel / ev_retention: ONE user_id exchange of the full
    *     events table each; the rest are the stage/cohort rollups +
    *     output sort over tiny aggregates.
    *   - doc_pack_sequences / doc_cap_per_source / doc_token_budget: one
    *     window exchange with O(1) running state (+ output sort).
    *   - doc_dup_spans: counting-only substring dedup — fingerprint
    *     count-agg + per-doc rollup + output sort; a 4th exchange would
    *     mean a pair stream appeared, the exact shape this op exists to
    *     avoid.
    *   - doc_minhash_dedup / doc_simhash_dedup: ONE signature-grouping
    *     exchange (full-sig / hash-value collect_list) + output sort; the
    *     exact-verification joins broadcast the token side. A 3rd
    *     exchange means the verify join started shuffling the corpus.
    *   - doc_jaccard_pairs: the pair-GENERATION stage of doc_dup_clusters
    *     too (same builder), pinned so a pair-stream regression can't
    *     land silently behind the iteration-dependent CC rounds. 8 in
    *     the INITIAL plan: df agg, postings agg, pair-count agg + the
    *     sizes/dense join sides AQE demotes to broadcasts at runtime
    *     (executed-plan audit in PLANS.md: 3 survive) — stable across
    *     sf0.001/sf0.1 because the checkpointed base plans as an
    *     ExistingRDD with default stats at every scale.
    *   - doc_jaccard_pairs_ppjoin: term-df agg, prefix rarity window,
    *     candidate-pair dedup agg, output sort, plus the verify joins'
    *     FOUR sides (cands + toks, twice) — r18 pinned them
    *     shuffle-hash deliberately: broadcasting the token-array frame
    *     is the corpus itself, and the broadcast form left no exchange
    *     boundary under the output sort, whose range-partition sampling
    *     re-executed both verify joins (PLANS.md "Verify-join plan
    *     shape": 16.3 → 3.26 s at sf0.1). 8 total; dropping back to 5
    *     would mean the hints stopped taking and the broadcast is back.
    */
  val pinnedExchanges: Map[String, Int] = Map(
    "q22_bucketed_colocated_join" -> 2,
    // seeded shuffle: ONE shard hash exchange feeds the per-shard window
    // (no global sort in the operator); the 2nd is the output orderBy
    "doc_shuffle_assign" -> 2,
    // same single shard exchange + the manifest's nShards-group agg
    "doc_shuffle_shards" -> 2,
    // banded near-dup batch face: (band, fp) window-min exchange + the
    // per-(window, doc) rollup + output sort — a 4th would mean the
    // owner computation regressed to the self-join form
    "doc_stream_neardup" -> 3,
    // image twin of doc_stream_neardup: (band, fp) window-min exchange
    // (owner id + full hash ride the same window) + per-(window, doc)
    // rollup + output sort — a 4th would mean the hamming verify
    // stopped riding the band window and re-shuffled or re-joined
    "mm_stream_neardup" -> 3,
    // mixed-modality twin: the 3-way fixture union is narrow (RDD-backed
    // branches concatenate) and modality banding is map-side, so the
    // same 3 — band window + rollup + sort
    "mm_stream_mixed" -> 3,
    // rerank: per-query rank window + candidate collect agg + output
    // sort; the corpus-side embedding pickup must stay broadcast (a 4th
    // exchange = the corpus started shuffling for the join)
    "emb_mmr_rerank" -> 3,
    // wide typedlit scorer is map-only like doc_quality_model; the 1 is
    // the output sort
    "doc_quality_train_wide" -> 1,
    // frozen-weight scoring is stateless/map-only; window rollup + sort
    "doc_stream_model_curate" -> 2,
    // hashing-trick linear scorer is map-only; the 1 is the output sort
    "doc_quality_model" -> 1,
    // k-means final assignment is a narrow plan-constant projection; the
    // 1 is the output sort (training iterations are separate jobs)
    "emb_kmeans" -> 1,
    // one state-bucket exchange; orderBy+limit folds into TakeOrdered
    "ev_stream_topk" -> 1,
    // user window + (from,to) agg + per-from probability window + sort —
    // a 5th exchange would mean the probability window stopped riding
    // the aggregated matrix
    "ev_transitions" -> 4,
    // chunk-form stencils: fromVoxels chunking + ONE halo exchange +
    // output sort; a 4th exchange means a second halo appeared
    "vol_chunk_erode6" -> 3,
    "vol_chunk_dilate6" -> 3,
    // deep-halo distance: ALL peeling rounds ride the single halo
    // exchange (the voxel form pays ~8) — the pin guards exactly that
    "vol_chunk_distance" -> 3,
    // single map-side-combined aggs + output sort
    "vol_mip_z" -> 2,
    "vol_region_props" -> 2,
    "vol_slice_stats" -> 2,
    // fromVoxels chunking + output sort: the CROP ITSELF adds no
    // exchange — chunk-coordinate pruning is a narrow filter
    "vol_crop_box" -> 2,
    // fromVoxels + plane-merge agg + sort
    "vol_chunk_mip_z" -> 3,
    // two chunk streams co-partition (one exchange each) + label agg +
    // sort; a 5th exchange would mean voxels started moving
    "vol_chunk_region_intensity" -> 4,
    // explode + map-side-combined agg + sort
    "doc_hash_embedding" -> 2,
    // distinct (fp,source) + fp self-join + pair agg + sort
    "doc_source_overlap" -> 4,
    // (user,day) distinct + day grid + range join + exact-distinct agg + sort
    "ev_rolling_wau" -> 5,
    // purchase-view join + per-purchase count window + rollup/sort
    "ev_attribution_linear" -> 3,
    // hourly agg + trailing window + sort
    "ev_anomaly_hours" -> 3,
    // per-customer cents agg + global ntile over the aggregated table
    "q23_revenue_deciles" -> 2,
    // z-order keys: the min/max agg's single-partition merge (broadcast
    // back as a 1-row dim — the broadcast itself doesn't shuffle) +
    // output sort; a 3rd exchange would mean the key projection
    // stopped being map-side
    "q24_zorder_keys" -> 2,
    // lifecycle gate reads STORED keys off the compacted layout: the 1
    // is the output sort — a 2nd exchange would mean the key stopped
    // being served from the layout and got recomputed with a fresh
    // min/max pass
    "q25_zorder_lifecycle" -> 1,
    // hilbert keys: same shape as q24 — min/max agg merge + output sort
    "q26_hilbert_keys" -> 2,
    // quantile keys: per lane, the equi-depth bucket map costs one
    // value-histogram agg + one (distinct-values-only) CDF window sort —
    // 2 lanes x 2 + the output sort. The maps broadcast back; the fact
    // rows never shuffle.
    "q27_zorder_quantile" -> 5,
    // the 3-lane quantile-hilbert composition: 3 lanes x 2 + the output
    // sort; the key itself is one codegen'd kernel projection
    "q30_hilbert3_quantile" -> 7,
    // bloom-pruned point read: the surviving-file scan + residual IN is
    // map-only; the 1 is the output sort (sidecar probe jobs are
    // separate, bounded by the file count)
    "q31_bloom_skipping" -> 1,
    // frozen-clamp gate reads STORED layout keys: the 1 is the output
    // sort (cluster/append jobs are one-time, marker-cached)
    "q32_zquantile_frozen_clamp" -> 1,
    // quantile lifecycle gate reads STORED keys off the compacted
    // layout: 1 = the output sort, same contract as q25
    "q33_zquantile_lifecycle" -> 1,
    // streaming-ingest gate reads the STORED streamed layout: 1 = the
    // output sort (bootstrap + micro-batch jobs are one-time,
    // marker-cached)
    "q34_zquantile_stream" -> 1,
    // delete-merged read: the `_zdeletes` tombstone set is tiny next to
    // the data, so the (file, pos) anti-join must BROADCAST — the 1 is
    // the output sort; a 2nd/3rd exchange would mean the merge started
    // shuffling the fact rows on the tombstone key
    "q35_zdelete_read" -> 1,
    // compacted layout reads STORED keys: 1 = the output sort, same
    // contract as q25/q33 (the compaction job is one-time, marker-cached)
    "q36_zdelete_compact" -> 1,
    // snapshot read is a pure file selection off the marker dir: 1 =
    // the output sort — any more would mean time travel stopped being
    // metadata-only
    "q37_zquantile_asof" -> 1,
    // merged read = delete-merged read: broadcast tombstone anti-join
    // + the output sort, same contract as q35
    "q38_zmerge_upsert" -> 1,
    // delete-aware snapshot: file selection + version-filtered
    // broadcast tombstone anti-join + the output sort
    "q39_zasof_deletes" -> 1,
    // ANALYZE gate: the sketch pass and the exact-distinct check both
    // run eagerly inside the gate builder (their results are plan
    // constants); the RETURNED plan is the tiny broadcast stats join +
    // the 4-row output sort = 1
    "q40_zanalyze" -> 1,
    // committed in-place compaction, CURRENT view: the snapshot keep
    // set resolves through the compaction marker (metadata), then the
    // same broadcast tombstone anti-join + output sort as q35 = 1.
    // More exchanges would mean compaction resolution started costing
    // data movement instead of a dir listing.
    "q41_zcompact_commit" -> 1,
    // as-of read ACROSS the compaction: the pre-compaction lineage is a
    // pure file selection + version-filtered broadcast anti-join — time
    // travel stays metadata-only even with a compaction in the dir
    "q42_zcompact_asof" -> 1,
    // post-expiry committed read: identical plan to q41 off the
    // reclaimed dir (expiry changes what exists, never the plan)
    "q43_zexpire_read" -> 1,
    // the SQL twins must plan EXACTLY like their Scala originals — the
    // resolution rule substitutes the same analyzed subtree, so any
    // extra exchange means the SQL surface stopped being a pure alias
    "q44_zdelete_sql" -> 1,
    "q45_zmerge_sql" -> 1,
    "q46_zasof_sql" -> 1,
    // streaming MERGE reads the same merged layout shape as q38
    "q47_zmerge_stream" -> 1,
    // SQL-INSERT-built history read as-of via SQL: pure file selection
    // + output sort, q37's contract through the DML surface
    "q48_zinsert_sql" -> 1,
    // SQL-UPDATE result read (r20): committed view + tombstone
    // anti-join + output sort — the q44 shape with the update's
    // version-atomic batch in the keep set
    "q49_zupdate_sql" -> 1,
    // named-catalog read (r20): CTAS+INSERT-built table read by NAME —
    // the same committed-view scan + output sort as the path spelling
    "q50_zcatalog_sql" -> 1,
    // stats-bridge join (r20): broadcast of the tombstone-shrunk layout
    // side + agg exchange + output sort = 2 — the shape guard over the
    // stats-injected read path (at the gate scales the fixture's raw
    // bytes are under the default threshold, so the FLIP itself is
    // pinned by the zstats_flip_* bench probes, which set the
    // threshold between live and raw bytes explicitly)
    "q51_zstats_join" -> 2,
    // widened-table committed read: union-schema file scan (old files
    // null-fill at read, a pure scan option) + output sort = 1 — a 2nd
    // exchange would mean widening stopped being metadata-only
    "q52_zschema_widen" -> 1,
    // 3-D curve keys: same shape as q24 — min/max agg merge + output
    // sort; the interleave / Skilling stages are pure projections
    "q28_morton3_keys" -> 2,
    "q29_hilbert3_keys" -> 2,
    "doc_repetition" -> 1,
    "ev_funnel" -> 2,
    "ev_retention" -> 3,
    "doc_pack_sequences" -> 2,
    "doc_pack_sequences_bpe" -> 2,
    // FFD packer: per-shard collect_list exchange + output sort. The
    // (shard, bin) manifest rollup adds NO exchange — the shard hash
    // partitioning already clusters (shard, bin), and Spark keeps it.
    // A 3rd exchange would mean the rollup stopped riding the shard
    // partitioning or the kernel stopped being a single per-shard pass
    "doc_pack_sequences_ffd" -> 2,
    // id-emitting GPT-style packing: ONE source window exchange (the
    // per-sequence rollup rides the window's source partitioning) +
    // output sort — a 3rd exchange would mean the token stream started
    // shuffling twice
    "doc_pack_ids_v3" -> 2,
    "doc_cap_per_source" -> 2,
    // domain cap: canonicalize + PSL-key map-side, ONE domain window
    // exchange + output sort — a 3rd exchange would mean URL
    // normalization or domain keying started shuffling
    "doc_domain_caps" -> 2,
    "doc_token_budget" -> 2,
    "doc_dup_spans" -> 3,
    // the rolling-fingerprint twin shares the counting stage, so the
    // same 3 — a 4th exchange would mean a pair stream appeared
    "doc_dup_spans_rolling" -> 3,
    "doc_minhash_dedup" -> 2,
    "doc_simhash_dedup" -> 2,
    "doc_jaccard_pairs" -> 8,
    "doc_jaccard_pairs_ppjoin" -> 8,
    // containment prefix twin: df agg, rarity window, candidate dedup,
    // verify-join shuffle-hash sides, output sort — the one-sided probe
    // shares the index explode, so 6 where ppjoin plans 8
    "doc_containment_pairs_prefix" -> 6,
    // the chooser picks prefix on the gate corpus at every sf (bench
    // errors if that verdict ever flips), so the auto face pins to the
    // same 6 — a change here means the chooser re-routed the gate
    "doc_containment_pairs_auto" -> 6,
    // the persisted-ANALYZE faces must route exactly like the live
    // autos (stats change WHERE the decision comes from, never the
    // chosen plan): containment → prefix's 6, jaccard → count's 8
    "doc_containment_pairs_stats" -> 6,
    "doc_jaccard_pairs_stats" -> 8,
    // skew-adversarial twin: same builder, same 8 (the df cap changes
    // WHICH rows flow, never the plan shape)
    "doc_jaccard_skewed" -> 8,
    // + the three census rollups (candidate count, doc count, uncapped
    // stop-term fanout) over the same frame
    "doc_jaccard_skewed_bound" -> 11,
    // banded LSH under the bucket cap: signature/band exchange, the
    // bucket-size window, pair dedup, output sort — a 5th exchange
    // would mean the exact-verify joins stopped broadcasting the text
    // hashes
    "doc_minhash_skewed" -> 4,
    // one source window exchange + output sort, same shape as
    // doc_cap_per_source: the sample must never become a global sort of
    // the corpus by hash
    "doc_sample_per_source" -> 2,
    // narrow per-row kernels (generator / regex): the 1 is the output
    // sort — any second exchange means a shuffle appeared in a map-only
    // pipeline
    "doc_chunk_overlap" -> 1,
    "doc_chunk_overlap_bpe" -> 1,
    "doc_pii_scrub" -> 1,
    "doc_html_extract" -> 1,
    // WARC intake is member-range parallel: the sidecar-span
    // repartition + output sort — a 3rd exchange would mean record
    // parsing or extraction started shuffling payload bytes
    "doc_warc_extract" -> 2,
    // WET sibling: same member-range shape
    "doc_wet_extract" -> 2,
    // WET export roundtrip: the export's partition-choosing repartition
    // + the read-back's output sort — record framing itself is
    // foreachPartition I/O, no extra exchange
    "doc_wet_roundtrip" -> 2,
    // crawl-intake batch face: span repartition, fingerprint dedup
    // window, (hour, source) rollup, output sort — a 5th exchange would
    // mean extraction stopped being stateless per-row
    "doc_stream_crawl" -> 4,
    // domain temperature mix: the doc_temperature_mix shape (domain
    // census, weight total, rank window, kept rollup, final join sides +
    // output sort) with the URL keying fully map-side — any extra
    // exchange means canonicalize/PSL started shuffling
    "doc_domain_temperature_mix" -> 8,
    // composed crawl pipeline: span repartition, the dedup keep-set's
    // md5 group agg (broadcast build side), the source cap window, the
    // per-source census rollup, output sort — a 6th exchange would mean
    // the corpus started shuffling through the dedup subtraction (the
    // keep set must stay broadcast) or the census stopped riding the
    // cap's source partitioning
    "doc_pipeline_curate_v3" -> 5,
    // trained-BPE application is map-only (merge table is a plan
    // constant); the 1 is the output sort. Training's word-count agg is a
    // separate driver-side job, deliberately not part of this plan.
    "doc_bpe_tokens" -> 1,
    // frozen byte-level tokenizer application is map-only (the merge
    // table is a committed fixture loaded at plan build); the 1 is the
    // output sort — same shape at the 4096- and 32k-merge tiers, and
    // for the segment→detok identity (rank-based apply keeps per-word
    // cost independent of table size)
    "doc_bpe_tokens_v2" -> 1,
    "doc_bpe_tokens_v3" -> 1,
    "doc_bpe_roundtrip_v3" -> 1,
    "doc_bpe_ids_v3" -> 1,
    // tokenizer QC: one map-side-combined source rollup + output sort
    "doc_tokenizer_qc" -> 2,
    // same strict-prefix budget shape as doc_token_budget: source window
    // + final rollup/sort
    "doc_token_budget_bpe" -> 2,
    // batch face of the streaming intake: fingerprint keep-first window
    // + (hour, source) rollup + output sort. A 4th exchange would mean
    // the dedup or rollup stopped being single-pass
    "doc_stream_curate" -> 3,
    // mean-pooled pyramid, voxel form: ONE map-side-combined aggregation
    // over the pooled lattice + output sort. A 3rd exchange would mean
    // the pooling stopped being a single hash aggregation
    "vol_pyramid_mean_l1" -> 2,
    // chunk form adds only the fixture's fromVoxels chunk-assembly
    // exchange in front of the same agg + sort; the partial-merge
    // groupBy itself must stay a single exchange of pooled-lattice rows
    "vol_chunk_pyramid_mean_l1" -> 3,
    // max pool mirrors mean pool exactly (same partial-rows design)
    "vol_pyramid_max_l1" -> 2,
    "vol_chunk_pyramid_max_l1" -> 3,
    // box stencil, voxel form: the 27-way scatter collapses into ONE
    // map-side-combined aggregation + output sort. A 3rd exchange means
    // the scatter rows started shuffling unaggregated
    "vol_boxsum3" -> 2,
    // chunk form: fixture chunk assembly + ONE halo-exchange groupByKey
    // (shell slabs + body once) + output sort. A 4th exchange would mean
    // the stencil stopped being a single exchange of slab messages
    "vol_chunk_boxsum3" -> 3,
    // the other two body-moving chunk operators: fixture chunk assembly
    // + ONE groupByKey of body pieces (outline: core + wrapped face
    // slabs; rechunk: the cut boxes) + output sort
    "vol_chunk_outline" -> 3,
    "vol_chunk_rechunk" -> 3,
    // bloom decontamination: bench-gram distinct (broadcast-side), hit
    // rollup, docs-vs-hits report join, output sort. A 5th exchange
    // would mean the corpus side started shuffling BEFORE the bloom
    // prefilter + broadcast verify join — the exact regression the
    // bloomPrefilterShape pin also guards
    "doc_contamination_bloom" -> 4,
    // CDC dedup is counting-only: (doc, chunk-hash) distinct, popular-
    // hash agg, per-doc shared rollup, the report join side, output
    // sort. A 6th exchange would mean a pair stream appeared — the
    // shape content-defined chunk COUNTING exists to avoid
    "doc_cdc_dedup" -> 5,
    // span REMOVAL shares the counting stage's shape: dup-fingerprint
    // agg, per-doc start-list agg, output sort (the coverage pass is a
    // narrow HOF projection). A 4th exchange would mean a pair stream
    // appeared in what must stay a counting+coverage pipeline
    "doc_dup_spans_removed" -> 3,
    // bigram LM scoring: unigram agg, bigram agg, the two count joins'
    // stream sides, per-doc rollup, output sort — counter-state
    // aggregations and hash joins only. A 7th exchange would mean the
    // model counts stopped being single-pass aggregations
    "doc_lm_score" -> 6,
  )
}
