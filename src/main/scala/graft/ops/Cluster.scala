package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.ZOrder
import graft.run.{Lineage, Maintenance, Synth}
import graft.table.{DataFileMeta, FileIO, GraftTable, Snapshot, TableState}

/**
 * Z-order clustering rewrite: sorts the table by a 64-bit Morton key over
 * (lang, url-host, warc_ts) and rewrites right-sized files whose per-column
 * min/max become tight, so predicate scans prune most files — the
 * generalization of the reference's rowkey-prefix scan pruning
 * (`sql/HQLEngine.java:136-155`) to multiple dimensions.
 *
 * Scale design — each rewrite group is exactly TWO passes over the data:
 *  1. ONE sketch aggregate over an uncached key-only Bernoulli sample
 *     (column-pruned: url/lang/warc_ts, never html/text): a
 *     `percentile_approx` for the equi-depth range boundaries and an
 *     `approx_top_k` for the heavy-host set (sample count × 1/fraction
 *     estimates row counts) — one Spark query, no cache, no driver sort
 *     ([[sketch]]); a group that writes one file skips it;
 *  2. the real pass: z-key + salt computed in codegen, ONE steered hash
 *     exchange ([[RangeShuffle]] — no repartitionByRange double-scan),
 *     in-partition sort, parquet write.
 * Per-dim bounds come free from file metadata (min/max of url → host
 * prefix, warc_ts), so no bounds aggregate runs at all.
 *
 * Skewed hosts get a salt XORed into the z-key's low bits before range
 * partitioning (the analog of the reference's 1-byte murmur rowkey salt,
 * `hbase/RowkeyField.java:139-154`): a heavy host's identical keys become
 * nSalts distinct keys that equi-depth boundaries can split.
 */
object Cluster {

  /** Z-dimension spec. `columns` empty = the page-table default dims
    * (lang, url-host, warc_ts) with their domain-tuned encodings; non-empty
    * = GENERIC clustering over exactly those table columns (any supported
    * type — each maps through its order-preserving Long embedding,
    * [[graft.functions.OrderedEncoding]], range-scaled to the group's
    * observed metadata bounds). `bitsPerDim` auto-lowers so
    * k·bits ≤ 63 for k columns. `curve`: "zorder" (Morton) or "hilbert"
    * (better locality, ~2x the key-compute cost — both codegen'd). */
  final case class ZDims(bitsPerDim: Int = 20, curve: String = "zorder",
      columns: Seq[String] = Nil) {
    require(curve == "zorder" || curve == "hilbert", s"unknown curve $curve")
    require(columns.size <= 8, s"at most 8 clustering columns (${columns.size} given)")
    /** bits per dim after fitting k dims into the 63-bit key */
    def effectiveBits: Int =
      if (columns.isEmpty) bitsPerDim else math.min(bitsPerDim, 63 / columns.size)
  }

  /** Hard ceiling on the boundary/heavy-host sample size, independent of
    * table size. The sample is neither cached nor collected — it streams
    * into the map side of one sketch aggregate, so the driver holds
    * O(nPart + k) values, not O(sample). The cap therefore bounds only the
    * rows the sketches ingest (and so their accuracy), not any memory:
    * 8M keeps heavy-host detection quiet at 10^12 rows, where a
    * threshold-sized host expects ~16 sample hits. */
  val MaxSampleRows: Long = 8000000L

  /** Range-partition count for a rewrite: scales with the cluster (4 waves
    * of the session's shuffle parallelism), not with table size. */
  def maxShufflePartitions(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism) * 4

  /** Sample fraction for `nPart` range boundaries over `rowsTotal` rows:
    * 400 keys per partition, hard-capped at [[MaxSampleRows]] total. */
  def sampleFraction(nPart: Int, rowsTotal: Long): Double =
    math.min(1.0,
      math.min(400.0 * nPart, MaxSampleRows.toDouble) / math.max(1L, rowsTotal))

  /** Observed per-dim bounds — measured from the data in one cheap
    * column-pruned aggregate so each dim uses its FULL bit range (a host
    * domain sharing the "host-"/"www." prefix would otherwise leave the
    * dim's top bits constant and never split files). */
  final case class ZBounds(hostMin: Long, hostMax: Long, tsMin: Long, tsMax: Long)

  /** host extracted from url: "https://host/..." → host. Built from
    * codegen'd byte scans (locate/substr/substring_index), NOT a regex:
    * the extraction sits inside the z-key on EVERY row of a clustering
    * rewrite (sample pass + rewrite pass). Keyed on the FIRST "://" — web
    * corpora are full of urls embedding other urls in path/query
    * ("…/redirect?u=http://other/…"), and a last-occurrence split would
    * cluster those rows by the embedded host. Semantics: text after the
    * first "://" (whole string if absent), up to the next "/". */
  def hostCol(url: Column): Column = {
    val i = locate("://", url) // 1-based, 0 when absent
    val afterScheme = when(i === 0, url).otherwise(url.substr(i + lit(3), length(url)))
    substring_index(afterScheme, "/", 1)
  }

  private def hostPacked: Column = ZOrder.packedPrefix(hostCol(col("url")), chars = 8)

  def computeBounds(df: DataFrame): ZBounds = {
    val r = df.select(
      min(hostPacked).as("h0"), max(hostPacked).as("h1"),
      min(col("warc_ts").cast(LongType)).as("t0"),
      max(col("warc_ts").cast(LongType)).as("t1")).first()
    ZBounds(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Driver-side mirror of [[hostCol]] — MUST stay value-identical (it
    * derives the host-dim bounds from file metadata, [[boundsFromMeta]]). */
  private def hostOf(url: String): String = {
    val s = if (url == null) "" else url
    val i = s.indexOf("://")
    val rest = if (i < 0) s else s.substring(i + 3)
    val j = rest.indexOf('/')
    if (j < 0) rest else rest.substring(0, j)
  }

  /** ZBounds derived from file metadata alone (no scan): url min/max give
    * host-prefix bounds because url = scheme + host + path and the packer
    * only looks at the first 8 host chars; warc_ts bounds are in micros in
    * the metadata, while `cast(timestamp as long)` yields seconds — hence
    * the division. Falls back to a data scan when metadata is missing. */
  def boundsFromMeta(df: DataFrame, inputs: Seq[DataFileMeta]): ZBounds = {
    val urlsOk = inputs.forall(f => f.minValues.contains("url") && f.maxValues.contains("url"))
    val tsOk = inputs.forall(f => f.minValues.contains("warc_ts") && f.maxValues.contains("warc_ts"))
    val schemes = inputs.flatMap(f => Seq(f.minValues.get("url"), f.maxValues.get("url")).flatten)
      .map(u => u.takeWhile(_ != ':')).distinct
    if (inputs.isEmpty || !urlsOk || !tsOk || schemes.size != 1) return computeBounds(df)
    val hostLos = inputs.map(f => ZOrder.packPrefixScala(hostOf(f.minValues("url"))))
    val hostHis = inputs.map(f => ZOrder.packPrefixScala(hostOf(f.maxValues("url"))))
    ZBounds(
      hostLos.min, hostHis.max,
      inputs.map(_.minValues("warc_ts").toLong).min / 1000000L,
      inputs.map(_.maxValues("warc_ts").toLong).max / 1000000L)
  }

  def zkeyCol(d: ZDims, b: ZBounds): Column = {
    // all three dims are order-preserving w.r.t. their column's natural
    // order, so post-cluster per-file min/max bounds are tight and
    // equality/range/prefix predicates prune (lang =, url startsWith,
    // warc_ts between)
    val lang = ZOrder.dictDim(col("lang"), Synth.langs, d.bitsPerDim)
    val host = ZOrder.rangeDim(hostPacked, b.hostMin, b.hostMax, d.bitsPerDim)
    val ts = ZOrder.rangeDim(col("warc_ts").cast(LongType), b.tsMin, b.tsMax, d.bitsPerDim)
    if (d.curve == "hilbert") graft.functions.Hilbert.key(d.bitsPerDim, lang, host, ts)
    else ZOrder.zkey(d.bitsPerDim, lang, host, ts)
  }

  /**
   * Full-table Z-order rewrite (or of `onlyFiles` if given). Resumable at
   * the commit boundary: the shuffle+sort+write runs under a staging
   * directory keyed by runId; a rerun reuses a completed staging dir.
   */
  def zorderRewrite(
      table: GraftTable,
      dims: ZDims = ZDims(),
      targetFileBytes: Long = 128L * 1024 * 1024,
      runId: String = java.util.UUID.randomUUID.toString,
      saltThresholdRows: Long = DefaultSaltThresholdRows,
      nSalts: Int = DefaultSalts,
      onlyFiles: Option[Seq[DataFileMeta]] = None,
      jobParallelism: Int = 0): Option[Snapshot] =
    rewrite(table.state, dims, targetFileBytes, runId, saltThresholdRows, nSalts, onlyFiles,
      jobParallelism)

  private val DefaultSaltThresholdRows = 2000000L
  private val DefaultSalts = 16

  /** [[zorderRewrite]] planned and committed against the pinned state `st`. */
  private def rewrite(
      st: TableState,
      dims: ZDims,
      targetFileBytes: Long,
      runId: String,
      saltThresholdRows: Long,
      nSalts: Int,
      onlyFiles: Option[Seq[DataFileMeta]],
      jobParallelism: Int): Option[Snapshot] = {
    val table = st.table
    val spark = table.spark
    val t0 = System.nanoTime()
    var log = Maintenance.start(table, runId, "cluster")
    log.committedSnapshotId.foreach(id => return st.metadata.snapshot(id))
    val snap = st.snapshot.getOrElse(return None)
    val planStep = s"plan@${snap.id}"
    require(log.doneSteps.isEmpty || log.doneSteps.contains(planStep),
      s"resume $runId: table advanced past planned snapshot; start a fresh run")
    log = Maintenance.markDone(table, log, planStep)

    val inputs = onlyFiles.getOrElse(st.files)
    if (inputs.isEmpty) return None
    val schema = st.schema

    val clusterCols: Seq[String] = canonicalColumns(st, dims)
    val zdimsStr =
      if (clusterCols.nonEmpty) clusterCols.mkString(",") else "lang,host,warc_ts"
    // layout tag in the commit uuid: INCREMENTAL verifies a file's
    // clustering layout from its NAME, surviving snapshot expiry (see
    // [[layoutTag]])
    val commitUuid = s"cluster-z${layoutTag(zdimsStr, dims.curve)}-$runId"

    // hidden partitioning: cluster WITHIN each partition tuple — the global
    // range exchange interleaves partition values across every task, and
    // partitionBy at write would then split each sorted run into one file
    // set per value it contains (~nPart x values tiny files) AND insert a
    // write-side sort on the partition columns that destroys the z order
    // the pass exists to produce. One rewrite group per partition tuple
    // keeps "one sorted run -> one right-sized file" exact; pre-spec files
    // (no partition dirs) form their own group whose rewrite adopts the
    // dir layout (a one-time split).
    val specs = st.allPartitionSpecs
    val groups: Seq[(Int, Seq[DataFileMeta])] =
      (if (specs.isEmpty) Seq(inputs)
       else inputs.groupBy(f => graft.table.PartitionSpec.fileKey(specs, f))
         .toSeq.sortBy(_._1).map(_._2))
        .zipWithIndex.map(_.swap)

    /** One group's rewrite: one sketch aggregate over a key sample ->
      * boundaries + heavy groups -> steered range exchange ->
      * in-partition sort -> rolled write. Returns the
      * group's output file metas (footers read once, inside the group's
      * own parallel slot). */
    def rewriteGroup(gi: Int, gInputs: Seq[DataFileMeta]): Seq[DataFileMeta] = {
      val dir = s"${table.dataDir}/$commitUuid-p$gi"
      val done = log.doneSteps.contains(s"part$gi") && FileIO.exists(s"$dir/_SUCCESS")
      if (done) // resume: the write completed earlier; re-read its footers
        return graft.table.StatsCollector.collect(spark, schema, table.root,
          FileIO.listFilesRecursively(dir, ".parquet"), s"$commitUuid-p$gi")
      FileIO.deleteRecursively(dir)
      // deletion vectors apply during the rewrite and clear per rewritten
      // file in replaceFiles
      val df = st.readFiles(gInputs)
      val gBytes = gInputs.map(_.bytes).sum
      val rowsTotal = gInputs.map(_.rows).sum
      val nOut = math.max(1, math.ceil(gBytes.toDouble / targetFileBytes).toInt)

      // key plan: page-default dims or generic user columns — either way ONE
      // codegen'd Long key of `keyBits` bits, a salt-grouping column for
      // heavy-tie detection, and a per-row salt source that splits those
      // ties. Bounds come from file metadata in the common case (no scan).
      val (zC: Column, saltGroupC: Column, saltRowC: Column, keyBits: Int) =
        if (clusterCols.nonEmpty) {
          val dcols = genericDimCols(schema, clusterCols, dims.effectiveBits, df, gInputs)
          val z =
            if (dims.curve == "hilbert") graft.functions.Hilbert.key(dims.effectiveBits, dcols: _*)
            else ZOrder.zkey(dims.effectiveBits, dcols: _*)
          // rows tying on EVERY clustering column are the generic skew case
          // (the page path's heavy host, generalized): detect heavy ties by
          // the key itself; salt by a hash over the row's other stat-bearing
          // columns, so identical keys spread while staying deterministic
          val hashable = schema.fields
            .filter(f => graft.table.Bounds.supported(f.dataType)).map(f => col(f.name))
          val saltSrc =
            if (hashable.isEmpty) spark_partition_id().cast("long") else xxhash64(hashable: _*)
          (z, z, saltSrc, clusterCols.size * dims.effectiveBits)
        } else {
          val bounds = boundsFromMeta(df, gInputs)
          (zkeyCol(dims, bounds), hostCol(col("url")), xxhash64(col("url")), 3 * dims.bitsPerDim)
        }

      // the shuffle fans out to nPart range partitions (cluster-sized, NOT
      // file-count-sized); each sorted partition run is split into
      // right-sized files by maxRecordsPerFile, preserving sort order and
      // tight per-file bounds — so boundary count and driver sample stay
      // bounded however big the table is
      val nPart = math.max(1, math.min(nOut, maxShufflePartitions(spark)))
      // a one-file group needs no boundaries, and a salt cannot split its
      // single range partition: no sketch at all
      val (heavy: Seq[Any], bds: Array[Long]) =
        if (nPart <= 1) (Nil, Array.empty[Long])
        else {
          spark.sparkContext.setJobDescription(s"zorder-sketch $runId group $gi")
          sketch(df, zC, saltGroupC, nPart, rowsTotal, saltThresholdRows)
        }

      val salted = df.withColumn("_zs",
        zC.bitwiseXOR(saltCol(saltGroupC, heavy, saltRowC, nSalts, keyBits)))

      spark.sparkContext.setJobDescription(
        s"zorder-rewrite $runId group $gi (${gInputs.size} files, $nOut out, $nPart partitions)")
      val sorted = RangeShuffle.byRange(salted, col("_zs"), bds)
        .sortWithinPartitions(col("_zs"))
      val rowsPerFile = if (nOut > nPart) math.max(1L, rowsTotal / nOut) else 0L
      // writeDataFiles collects the fresh footers already — reuse them
      val metas = st.writeDataFiles(sorted, s"$commitUuid-p$gi", rowsPerFile) // selects schema cols, dropping _zs
      synchronized { log = Maintenance.markDone(table, log, s"part$gi") }
      metas
    }

    // pool sizing + fan-out + fail-fast drain live in GroupedRewrite (shared
    // with Rebucket); width = each group's rewrite task fan-out
    val perGroup: Seq[(Seq[DataFileMeta], Seq[DataFileMeta])] =
      GroupedRewrite.run(spark, "graft-cluster", jobParallelism, groups,
        g => math.ceil(g.map(_.bytes).sum.toDouble / targetFileBytes).toLong)(rewriteGroup)

    // drop all-empty outputs (a fully-deleted partition group writes a
    // 0-row, bound-less file — unprunable manifest noise)
    val added = perGroup.flatMap(_._1).filter(_.rows > 0)
    val removed = inputs.map(_.path).toSet
    val committed = table.replaceFiles(removed, added, "cluster",
      Map("run-id" -> runId,
        "zdims" -> zdimsStr,
        "bits" -> dims.effectiveBits.toString, "curve" -> dims.curve),
      expectedSnapshotId = Some(snap.id))
    Maintenance.markCommitted(table, log, committed.id)
    // lineage per GROUP: an output derives only from its own partition
    // group's inputs (whole-rewrite attribution was wrong for multi-group)
    val sourcesPerOutput = perGroup.flatMap { case (outs, srcs) => outs.map(o => o.path -> srcs) }.toMap
    Lineage.record(spark, table, runId, committed.id, "cluster", added,
      sourcesPerOutput, (System.nanoTime() - t0) / 1000000)
    Some(committed)
  }

  /**
   * Incremental clustering: rewrites only files appended since the last
   * clustering pass (those not produced by a cluster commit), leaving
   * already-clustered files untouched — the steady-state maintenance mode
   * at 100 TB, where re-sorting the whole table per ingest cycle is
   * impossible. Periodic full rewrites restore global order. Without
   * `dims.columns`, the table's declared `cluster-columns` apply
   * ([[withDeclaredColumns]]), exactly as through `OPTIMIZE … INCREMENTAL`.
   */
  def incremental(
      table: GraftTable,
      dims: ZDims = ZDims(),
      targetFileBytes: Long = 128L * 1024 * 1024,
      runId: String = java.util.UUID.randomUUID.toString,
      minFiles: Int = 2): Option[Snapshot] = {
    val st = table.state
    val layout = withDeclaredColumns(st, dims)
    // validate/canonicalize UP FRONT: a typo'd column must fail loudly even
    // when there is nothing to rewrite (a scheduled no-op would otherwise
    // hide the mistake until the first real pass)
    val cols = canonicalColumns(st, layout)
    val wantZdims = if (cols.nonEmpty) cols.mkString(",") else "lang,host,warc_ts"
    // a file only counts as clustered if its cluster commit used THESE dims
    // and curve — after the user changes cluster-columns, files ordered on
    // the old layout are stale and must rewrite. Commits whose snapshot has
    // expired can't be checked and keep the old treated-as-clustered
    // behavior; the periodic full rewrite restores certainty.
    val staleRuns = st.metadata.snapshots
      .filter(s => s.operation == "cluster" &&
        (s.summary.getOrElse("zdims", "") != wantZdims ||
          s.summary.getOrElse("curve", "") != layout.curve))
      .flatMap(_.summary.get("run-id")).toSet
    // tagged commit uuids (`cluster-z<8hex>-…`) carry their layout in the
    // NAME, so freshness survives snapshot expiry; legacy untagged files
    // keep the snapshot-based verdict (expired → treated as clustered —
    // the pre-existing, documented gap, now closed for all new rewrites)
    val tag = layoutTag(wantZdims, layout.curve)
    val (stale, fresh) = st.files
      .filter { f =>
        val cu = f.commitUuid
        if (!cu.startsWith("cluster-")) true // fresh append → rewrite set
        else if (cu.startsWith("cluster-z")) !cu.startsWith(s"cluster-z$tag-")
        else staleRuns.exists(r => cu.startsWith(s"cluster-$r-"))
      }
      .partition(_.commitUuid.startsWith("cluster-"))
    // minFiles is a churn guard for lone fresh appends; a LAYOUT change
    // (any stale file) always proceeds — re-ordering even one file is the
    // entire point
    if (stale.isEmpty && fresh.size < minFiles) None
    else rewrite(st, layout, targetFileBytes, runId, DefaultSaltThresholdRows, DefaultSalts,
      Some(stale ++ fresh), jobParallelism = 0)
  }

  /** `dims`, or — when it names no columns — `dims` over the table's
    * declared `cluster-columns` property (Nil when unset: the page dims).
    * The one place that property resolves, so the programmatic and SQL
    * doors tag the same layout. */
  def withDeclaredColumns(st: TableState, dims: ZDims): ZDims =
    if (dims.columns.nonEmpty) dims
    else dims.copy(columns = st.metadata.properties.get(GraftTable.ClusterColumnsProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))

  /** 8-hex tag of a clustering layout (dims + curve), embedded in cluster
    * commit uuids (`cluster-z<tag>-<runId>-p<g>`) so INCREMENTAL can verify
    * a file's layout from its NAME even after the producing snapshot is
    * expired — r5 review: expiry made stale layouts unverifiable and they
    * were silently treated as fresh. The `z` sentinel distinguishes tagged
    * uuids from legacy ones (UUID run-ids never start with 'z'); a 32-bit
    * tag collision between two layouts OF ONE TABLE is ~2^-32 and would
    * only skip a rewrite, never corrupt data. */
  private[ops] def layoutTag(zdims: String, curve: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$zdims|$curve".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

  /** Canonicalize generic clustering columns against the table schema with
    * the session resolver (case-insensitive by default, like every
    * SQL-facing column lookup) and demand an order-preserving encoding UP
    * FRONT — a bad column must fail loudly before any bytes move. Nil for
    * the page-dims default. */
  private[ops] def canonicalColumns(st: TableState, dims: ZDims): Seq[String] = {
    val schema = st.schema
    dims.columns.map { c =>
      val resolver = st.table.spark.sessionState.analyzer.resolver
      val f = schema.fields.find(f => resolver(f.name, c)).getOrElse(throw
        new IllegalArgumentException(s"ZORDER BY column '$c' not in schema " +
          schema.fieldNames.mkString("(", ", ", ")")))
      require(graft.functions.OrderedEncoding.forType(f.dataType, col(f.name)).isDefined,
        s"ZORDER BY column '${f.name}': ${f.dataType.simpleString} has no " +
          "order-preserving encoding (binary and nested types don't)")
      f.name
    }
  }

  /** Generic Z dims: each clustering column maps through its
    * order-preserving Long embedding ([[graft.functions.OrderedEncoding]] —
    * the exact space MERGE range-steers in), range-scaled to this group's
    * observed bounds so every dim uses its full bit range (shared prefixes /
    * narrow domains would otherwise pin the top bits and never split files).
    * Bounds come from file metadata; a column missing stats in any input
    * file falls back to ONE column-pruned min/max aggregate over the group.
    */
  private def genericDimCols(schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String], bits: Int, df: DataFrame,
      inputs: Seq[DataFileMeta]): Seq[Column] = {
    import graft.functions.OrderedEncoding
    val prepared = cols.map { name =>
      val f = schema(name)
      // strings: strip the group's common bound prefix before packing (the
      // merge-soak fix) — capped so ≥8 packed chars stay inside the bound
      // truncation window; the cap only loosens scaling, never correctness
      val lcpLen = f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          val bs = inputs.flatMap(fm => fm.minValues.get(name) ++ fm.maxValues.get(name))
          if (bs.isEmpty) 0
          else math.min(bs.reduce(OrderedEncoding.lcp(_, _)).length,
            graft.table.Bounds.StatsTruncateLen - 8)
        case _ => 0
      }
      val (enc, dec) = OrderedEncoding.forType(f.dataType, col(name), lcpLen).get
      val haveBounds = inputs.nonEmpty &&
        inputs.forall(fm => fm.minValues.contains(name) && fm.maxValues.contains(name))
      (name, enc, dec, haveBounds)
    }
    // ONE combined column-pruned aggregate covers every column whose stats
    // are missing in any input file (all-null columns, legacy files) — not
    // one scan per column
    val needScan = prepared.filterNot(_._4)
    val scanned: Map[String, (Long, Long)] =
      if (needScan.isEmpty) Map.empty
      else {
        val aggs = needScan.flatMap { case (name, enc, _, _) =>
          Seq(min(enc).cast(LongType).as(s"lo_$name"), max(enc).cast(LongType).as(s"hi_$name"))
        }
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        needScan.zipWithIndex.map { case ((name, _, _, _), i) =>
          name -> (if (r.isNullAt(2 * i)) (0L, 0L) else (r.getLong(2 * i), r.getLong(2 * i + 1)))
        }.toMap
      }
    prepared.map { case (name, enc, dec, haveBounds) =>
      val (lo, hi) =
        if (haveBounds)
          (inputs.map(fm => dec(fm.minValues(name))).min,
            inputs.map(fm => dec(fm.maxValues(name))).max)
        else scanned(name)
      ZOrder.rangeDim(enc, lo, hi, bits)
    }
  }

  /** Spark's ceiling on `approx_top_k`'s tracked items, and so on its k. */
  private val MaxItemsTracked = 1000000

  /**
   * Range boundaries and heavy salt groups of one rewrite group, from ONE
   * aggregate over a Bernoulli sample of its keys: `percentile_approx` over
   * the z-key gives the nPart-1 equi-depth boundaries, and `approx_top_k`
   * (a frequent-items sketch) over the salt group gives the groups whose
   * estimated rows (sample count / fraction) exceed `saltThresholdRows`.
   * The sample is never cached and never collected: the scan runs once, as
   * the aggregate's map stage, and the driver receives O(nPart + k) values.
   *
   * k is the bound on heavy groups, ⌈rowsTotal / saltThresholdRows⌉ + 1,
   * capped at [[MaxItemsTracked]]. While the sample holds no more distinct
   * groups than the sketch tracks (max(10000, 8k) — true in every test and
   * benchmark workload) its counts are exact, so the heavy set is exactly
   * what a groupBy over the same sample finds. Above that the counts are
   * upper-bound estimates whose error stays under a third of the threshold,
   * so the sketch can only add borderline groups: a little extra salting,
   * never a wrong row.
   */
  private def sketch(df: DataFrame, z: Column, g: Column, nPart: Int, rowsTotal: Long,
      saltThresholdRows: Long): (Seq[Any], Array[Long]) = {
    val fraction = sampleFraction(nPart, rowsTotal)
    val qs = (1 until nPart).map(_.toDouble / nPart)
    // sketch resolution must exceed the quantile spacing or adjacent
    // boundaries collapse and distinct() under-partitions
    val accuracy = math.max(10000, nPart * 4)
    val threshold = math.max(1L, saltThresholdRows)
    val k = math.min(MaxItemsTracked.toLong, (rowsTotal + threshold - 1) / threshold + 1).toInt
    val tracked = math.min(MaxItemsTracked.toLong, math.max(10000L, 8L * k)).toInt
    // NOTE: no `.limit()` before the aggregate — CollectLimit executes the
    // scan in sequential incremental partition batches (1, 4, 16, …), which
    // was measured to halve 8-core cluster throughput; the fraction alone
    // bounds the expected sample size. Sample BELOW the key projection:
    // Catalyst does not push a non-trivial projection under Sample, so with
    // the select first the z-key would run on every row of the group;
    // column pruning still reaches the scan.
    val row = df.sample(withReplacement = false, fraction, seed = 42)
      .select(z.as("z"), g.as("g"))
      .agg(percentile_approx(col("z"), typedLit(qs), lit(accuracy)),
        call_function("approx_top_k", col("g"), lit(k), lit(tracked)))
      .head()
    val bounds =
      if (row.isNullAt(0)) Array.empty[Long] else row.getSeq[Long](0).distinct.sorted.toArray
    val heavy =
      if (row.isNullAt(1)) Nil
      else row.getSeq[Row](1)
        .filter(r => !r.isNullAt(0) && r.getLong(1) / fraction > saltThresholdRows)
        .map(_.get(0)).sortBy(String.valueOf)
    (heavy, bounds)
  }

  /** Salt for a `keyBits`-bit z-key: `rowSalt mod nSalts` for rows whose
    * `group` is heavy, 0 otherwise, shifted to the lowest bits a range
    * boundary can resolve. XORed into the key it flips only low bits
    * (noise bits of every dimension), so a heavy tie gets up to nSalts
    * distinct keys that range boundaries can split, without hurting
    * clustering. The shift exists because `percentile_approx` ranks keys
    * as doubles: a boundary resolves only a key's top 53 bits, so salts in
    * the bits below that all land on one side of the boundary their tie
    * rounds to (a 60-bit page key moved in steps of 64–128). */
  private[ops] def saltCol(group: Column, heavy: Seq[Any], rowSalt: Column, nSalts: Int,
      keyBits: Int): Column =
    if (heavy.isEmpty) lit(0L)
    else when(group.isInCollection(heavy),
      shiftleft(pmod(rowSalt, lit(nSalts.toLong)), math.max(0, keyBits - 53))).otherwise(lit(0L))
}
