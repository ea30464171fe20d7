package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.run.Maintenance
import graft.table.{Bounds, DataFileMeta, DeletionVectors, GraftTable, Snapshot, TableState}

/**
 * MERGE INTO with copy-on-write file replacement.
 *
 * Re-imagines the reference's incremental load: its per-row point re-scans
 * (`adapter/HBaseSourceTableAdapter.java:321-359` — a network round trip per
 * mutated row) become ONE set-based join of the change set against only the
 * files whose key range can contain a changed key; its generated
 * LEFT-OUTER-JOIN delete scripts (`hive/HiveTableIR.java:234-302`) become
 * the delete branch of the same join; its delete-marker semantics become an
 * explicit `_deleted` column on the source.
 *
 * Keys are COMPOSITE: `keyCols` may name any number of columns, matching the
 * reference's delete-merge which joins on every rowkey component
 * (`hive/HiveTableIR.java:311-315` builds `t.k1=s.k1 AND … AND t.kn=s.kn`).
 *
 * Semantics (latest-writer-wins, as HBase cell timestamps did):
 *  - source is first deduped to one row per key tuple (greatest warc_ts;
 *    delete beats upsert on ties) via a window — the reference's
 *    `Result.getColumnLatestCell` analog;
 *  - matched & newer & deleted  → row removed
 *  - matched & newer & !deleted → row replaced
 *  - matched & older            → target row kept (late-arriving change)
 *  - unmatched & !deleted       → insert
 *
 * Reserved source columns (all optional) refine the row images — the SQL
 * front door ([[graft.sql.GraftMergeRule]]) lowers column-level MERGE
 * actions onto them:
 *  - `_deleted` boolean: the row is a delete (see above);
 *  - `_noop` boolean: the row asserts PRESENCE only — its matched target
 *    row is kept unchanged (it is "matched by source" for the NOT MATCHED
 *    BY SOURCE clauses without any matched clause applying to it);
 *  - `_set_<col>`: column-level UPDATE image — when any `_set_*` column is
 *    present, a matched update replaces ONLY the assigned columns and keeps
 *    the target's values for the rest (ANSI `UPDATE SET c = expr`);
 *  - `_setw_<col>` boolean: per-row assignment mask for `_set_<col>` — when
 *    present, the update writes the column only where the mask is true and
 *    keeps the target value elsewhere. This is how MULTIPLE update clauses
 *    with different assigned column sets lower (first-match-wins: the row
 *    fired by clause A must keep target values for columns only clause B
 *    assigns — a NULL `_set_` value alone cannot distinguish "assign NULL"
 *    from "not assigned by the firing clause");
 *  - `_ins_<col>`: column-level INSERT image — when any `_ins_*` column is
 *    present, an insert takes the assigned columns and NULL for the rest
 *    (ANSI `INSERT (cols) VALUES (…)`);
 *  - `_insw_<col>` boolean: per-row assignment mask for `_ins_<col>`,
 *    symmetric to `_setw_<col>` (multiple insert clauses).
 *
 * Scale design: touched-file planning ships only the per-file [min,max]
 * key intervals (tiny), maps each source key tuple to overlapping files and
 * collects one file-id set per source partition (one Spark job, no
 * exchange); the join runs as a Catalyst-planned sort-merge join (asserted
 * in tests via the physical plan); untouched files are carried into the
 * new snapshot unchanged.
 *
 * Merge-on-read (`mode = "merge-on-read"`) has two plans with the same
 * clause semantics ([[clauses]] is the one clause matrix both evaluate):
 *  - the DRIVER plan, for a small source: when the optimizer's size
 *    estimate of the normalized source is within
 *    `spark.sql.autoBroadcastJoinThreshold` (`-1` turns it off), the merge
 *    collects the source, probes touched files on the driver, scans them
 *    once for the rows whose keys the source names, pairs and applies the
 *    clauses on the driver, and writes the images — at most three Spark
 *    jobs, nothing persisted;
 *  - the JOIN plan, for everything else: the full-outer join of the
 *    source against the touched files, as copy-on-write runs it. NOT
 *    MATCHED BY SOURCE clauses (they need every candidate file's rows),
 *    key columns whose source and target types differ, and key types whose
 *    driver-side equality is not Spark's (float, double, binary, nested)
 *    always take it.
 * The `merge-pos` snapshot's summary names the plan (`merge-plan`).
 */
object Merge {

  /** Canonical bound-string encoding of a key column, matching
    * [[graft.table.Bounds]] (timestamps → epoch micros, dates → epoch days,
    * numerics/strings verbatim) so interval comparisons against file stats
    * are in the same space. TIMESTAMP_NTZ keys assume a UTC session
    * timezone (all engine entry points set one) — the NTZ→TZ cast reads
    * wall time in the session zone, and file stats store raw micros. */
  private def canonicalKey(c: Column, dt: DataType): Column = dt match {
    case TimestampType    => unix_micros(c).cast("string")
    case TimestampNTZType => unix_micros(c.cast("timestamp")).cast("string")
    case DateType         => unix_date(c).cast("string")
    case _                => c.cast("string")
  }

  def touchedFiles(table: GraftTable, sourceKeys: DataFrame, keyCol: String): Seq[DataFileMeta] =
    touchedFiles(table.state, sourceKeys, Seq(keyCol))

  def touchedFiles(table: GraftTable, sourceKeys: DataFrame, keyCols: Seq[String]): Seq[DataFileMeta] =
    touchedFiles(table.state, sourceKeys, keyCols)

  /** Files of `state` whose per-column [min,max] intervals may contain any
    * source key TUPLE: the leading key column drives an interval-stabbing
    * index; the remaining key columns filter its candidate window per row (a
    * file survives only if the SAME row fits its bounds on every key column). */
  private[graft] def touchedFiles(state: TableState, sourceKeys: DataFrame,
      keyCols: Seq[String]): Seq[DataFileMeta] = {
    require(keyCols.nonEmpty, "at least one key column")
    val files = state.files
    if (files.isEmpty) return Seq.empty
    val schema = state.schema
    val spark = state.table.spark
    val dts = keyCols.map { k =>
      schema.fields.find(_.name == k).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(s"no column $k"))
    }
    dts.foreach(dt => require(Bounds.supported(dt), s"unsupported key type $dt"))
    // canonicalKey (and the range steering built on it) reads NTZ wall time
    // through the SESSION zone while file stats store raw NTZ micros — the
    // two agree only under UTC. Every engine entry point sets UTC; a
    // caller-supplied session must fail loudly here, not plan touched
    // files 2h off and silently duplicate merged keys.
    if (dts.contains(TimestampNTZType)) {
      val zone = spark.sessionState.conf.sessionLocalTimeZone
      // equivalence, not string equality: "Etc/UTC", "GMT", "+00:00" all
      // resolve to the zero offset and were always correct
      val isUtc = scala.util.Try(
        java.time.ZoneId.of(zone).normalized() == java.time.ZoneOffset.UTC).getOrElse(false)
      require(isUtc,
        s"TIMESTAMP_NTZ merge keys require spark.sql.session.timeZone=UTC " +
          s"(session is '$zone'): file statistics store raw NTZ micros and " +
          "key planning must match them")
    }
    val lead = keyCols.head
    val leadDt = dts.head
    // conservative: a file without bounds for the leading key is always touched
    val unbounded = files.filter(f => f.minValues.get(lead).isEmpty || f.maxValues.get(lead).isEmpty)
    val bounded = files.filter(f => f.minValues.contains(lead) && f.maxValues.contains(lead))
    if (bounded.isEmpty) return files
    // interval-stabbing index (sorted mins + prefix-max of maxes): O(log
    // files + overlaps) per key instead of a linear scan of every file —
    // the index itself is file-count-bounded and ships once per probe
    val index = new IntervalIndex(leadDt,
      bounded.zipWithIndex.map { case (f, i) => (f.minValues(lead), f.maxValues(lead), i) })
    // residual key columns: per-file bounds arrays (null = no bounds = keep)
    val resCols = keyCols.tail
    val resDts = dts.tail
    val resMin: Array[Array[String]] = resCols.map(c => bounded.map(_.minValues.get(c).orNull).toArray).toArray
    val resMax: Array[Array[String]] = resCols.map(c => bounded.map(_.maxValues.get(c).orNull).toArray).toArray
    // bucket-dir pruning: a key tuple can only touch a file whose bucket dir
    // (when the file has one — -1 otherwise) matches the key's own bucket
    // under that spec. For a bucketed table this cuts the candidate set ~n×
    // beyond interval stabbing: buckets hold hash-sampled keys, so every
    // sorted run's [min,max] admits ~one candidate file PER BUCKET while the
    // dir pins the single bucket that can actually hold the key. The key's
    // bucket is computed by the same `pmod(hash(col), n)` expression writers
    // lay files out by (cast to the table's column type first), so both
    // sides share Spark's own murmur3 exactly. Applies across spec
    // generations: each file answers only for dirs it physically has.
    val bucketSpecs = state.allPartitionSpecs.filter(sp =>
      sp.transform == "bucket" && keyCols.contains(sp.sourceColumn))
    val fileBuckets: Array[Array[Int]] = bucketSpecs.map(sp =>
      bounded.map(f => sp.dirValue(f.path)
        .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(-1)).toArray).toArray
    val candidates = new TouchedCandidates(index, resDts.toArray, resMin, resMax, fileBuckets)
    val keyStruct = struct(
      keyCols.zip(dts).map { case (k, dt) => canonicalKey(col(k), dt) } ++
        bucketSpecs.map { sp =>
          val dt = schema.fields.find(_.name == sp.sourceColumn).get.dataType
          pmod(hash(col(sp.sourceColumn).cast(dt)), lit(sp.param.get))
        }: _*)
    val probe = sourceKeys.select(keyStruct)
    val touchedIds: Set[Int] = probe.queryExecution.optimizedPlan match {
      // a local key set (a collected merge source): ConvertToLocalRelation
      // has already folded the key projection, so the probe runs here, no job
      case _: LocalRelation => probe.collect().iterator.flatMap(r => candidates(r.getStruct(0))).toSet
      // one job, no exchange: each task ships its partition's id set
      case _ =>
        import spark.implicits._
        probe.mapPartitions { rows =>
          val ids = scala.collection.mutable.BitSet.empty
          rows.foreach(r => ids ++= candidates(r.getStruct(0)))
          Iterator.single(ids.toArray)
        }.collect().iterator.flatten.toSet
    }
    bounded.zipWithIndex.collect { case (f, i) if touchedIds.contains(i) => f } ++ unbounded
  }

  /** Single-key convenience overload. */
  def into(table: GraftTable, source: DataFrame, keyCol: String): Snapshot =
    into(table, source, Seq(keyCol))

  /** Touched-file target scan for the merge join. When the table is bucketed
    * on EXACTLY the merge key (single key column == the `bucket(n, col)`
    * transform's source, every touched file bucket-stamped — the table's
    * bucket gate), the relation reports `HashPartitioning(key, n)` and the
    * full-outer join shuffles ONLY the source side: the touched target bytes
    * — the dominant shuffle volume of a 100 TB merge — never move. The exact
    * single-key match is deliberate: with composite merge keys Spark's
    * co-partitioning rule (`requireAllClusterKeysForCoPartition`, default on)
    * shuffles both sides anyway, and an unhelpful bucketed scan would cap
    * scan parallelism at n for nothing. Everything else keeps the plain
    * parquet scan over the touched paths (size-split parallelism). Join
    * parallelism under the bucketed path is n — that is the user's declared
    * layout; per-task sort input is touchedBytes/n, so pick bucket counts
    * the way you'd pick shuffle partitions. */
  private[graft] def targetScan(state: TableState, touched: Seq[DataFileMeta],
      keyCols: Seq[String]): DataFrame = {
    val bs = state.bucketSpec(touched).filter { b =>
      keyCols.map(_.toLowerCase) == b.bucketColumnNames.map(_.toLowerCase)
    }
    if (bs.isDefined) state.relation(touched, bucketed = bs)
    else state.table.spark.read.schema(state.schema).parquet(touched.map(state.table.absPath): _*)
  }

  /**
   * Execute a merge of `source` (page-schema columns + optional reserved
   * columns, see class doc) into the table on `keyCols`. Returns the
   * committed snapshot.
   *
   * `latestWins` = true (default) keeps the reference's HBase-cell
   * semantics: a source row older than the target row (by `versionCol`) is
   * a late-arriving change and loses. `latestWins` = false gives ANSI
   * MERGE semantics (matched source rows always apply) — the SQL surface
   * ([[graft.sql.GraftMergeRule]]) uses this.
   */
  def into(
      table: GraftTable,
      source: DataFrame,
      keyCols: Seq[String] = Seq("url"),
      versionCol: String = "warc_ts",
      targetFileBytes: Long = 128L * 1024 * 1024,
      runId: String = java.util.UUID.randomUUID.toString,
      latestWins: Boolean = true,
      notMatchedBySourceDelete: Option[Column] = None,
      notMatchedBySourceSet: Option[(Column, Map[String, Column])] = None,
      notMatchedBySourceDeleteFirst: Boolean = true,
      mode: String = "copy-on-write",
      propertyUpdates: Map[String, String] = Map.empty): Snapshot = {
    require(keyCols.nonEmpty, "at least one key column")
    // merge-on-read: changed target rows become deletion-vector entries and
    // updated/inserted images become a plain append — touched files are
    // NEVER rewritten, so a trickle upsert's write cost is the changed
    // rows, not the touched files (Iceberg's write.merge.mode). A later
    // delete-pressure compaction (or any rewrite) materializes the DVs.
    require(mode == "copy-on-write" || mode == "merge-on-read",
      s"unknown merge mode '$mode' (copy-on-write | merge-on-read)")
    val mor = mode == "merge-on-read"
    // NOT MATCHED BY SOURCE clauses act on TARGET rows without a source
    // match (ANSI); their condition/assignments evaluate on target columns.
    // They are ANSI-mode only — under latest-wins CDC semantics "absent
    // from this change batch" carries no meaning. BOTH actions may be
    // given (ANSI allows a conditional UPDATE and a conditional DELETE
    // together); `notMatchedBySourceDeleteFirst` fixes their first-match-
    // wins order.
    val nmbs = notMatchedBySourceDelete.nonEmpty || notMatchedBySourceSet.nonEmpty
    require(!nmbs || !latestWins,
      "NOT MATCHED BY SOURCE requires ANSI semantics (latestWins = false)")
    val spark = table.spark
    val t0 = System.nanoTime()
    // ONE pinned state plans the whole merge, up to its commit
    val st = table.state
    var log = Maintenance.start(table, runId, "merge")
    // resume short-circuit FIRST: an already-committed merge must stay
    // idempotently re-runnable even if a MoR delete landed afterwards
    log.committedSnapshotId.foreach(id => return st.metadata.snapshot(id).get)
    val snap = st.snapshot
    // resume identity (same guard as Compact/Cluster): a crashed run's
    // rewrite output is only reusable against the snapshot it was planned
    // on — a concurrent commit in the crash window changes the touched set,
    // and silently pairing the OLD output with a NEW touched plan would
    // drop the concurrent rows at replaceFiles
    val planStep = s"plan@${snap.map(_.id).getOrElse(0L)}"
    require(log.doneSteps.isEmpty || log.doneSteps.contains(planStep),
      s"resume merge $runId: table advanced past the planned snapshot; start a fresh run")
    log = Maintenance.markDone(table, log, planStep)
    val schema = st.schema
    val cols = schema.fieldNames.toSeq
    keyCols.foreach(k => require(cols.contains(k), s"no key column $k in table schema"))

    val hasDeleted = source.columns.contains("_deleted")
    val src0 = if (hasDeleted) source else source.withColumn("_deleted", lit(false))
    val nmbsSetCols: Set[String] = notMatchedBySourceSet.map(_._2.keySet).getOrElse(Set.empty)
    val sh = Shape(schema, keyCols, versionCol, latestWins, src0.columns.toSeq,
      spark.sessionState.analyzer.resolver, notMatchedBySourceDelete.nonEmpty,
      notMatchedBySourceSet.nonEmpty, nmbsSetCols)
    require(sh.setwCols.subsetOf(sh.setCols) && sh.inswCols.subsetOf(sh.insCols),
      "mask columns (_setw_/_insw_) require matching _set_/_ins_ image columns")
    (sh.setCols ++ sh.insCols).foreach(c =>
      require(cols.contains(c), s"MERGE action assigns unknown column $c"))
    sh.setCols.intersect(keyCols.toSet).headOption.foreach(c =>
      throw new IllegalArgumentException(
        s"MERGE UPDATE must not assign key column $c (rewrite the row via DELETE + INSERT)"))
    nmbsSetCols.foreach(c => require(cols.contains(c), s"NOT MATCHED BY SOURCE assigns unknown column $c"))
    nmbsSetCols.intersect(keyCols.toSet).headOption.foreach(c =>
      throw new IllegalArgumentException(s"NOT MATCHED BY SOURCE must not assign key column $c"))
    val keyC = keyCols.map(col)
    val srcUncached = if (latestWins) latestPerKey(src0, sh) else src0
    if (mor && !nmbs && plansOnDriver(spark, sh, srcUncached))
      return mergeOnReadOnDriver(st, sh, src0, runId, log, t0, propertyUpdates)
    // ONE materialization of the normalized source for ANSI merges:
    // touched-file planning, the ANSI cardinality check and the full-outer
    // rewrite join all consume it, and uncached each re-executed the whole
    // source plan — for the SQL door that plan embeds the touched-file
    // `_matched` join, so every SQL MERGE paid the lowering 3x. ANSI
    // sources are clause-filtered change sets (small by design), so one
    // MEMORY_AND_DISK materialization beats re-deriving them (released in
    // the finally below; sources the caller already persisted, e.g.
    // CdcApply's folded batch, are left alone).
    //
    // latest-wins merges deliberately DON'T cache: their source is
    // typically a raw scan-shaped change frame with full payload columns,
    // and caching it as deserialized rows costs more than the vectorized
    // re-scan it saves (measured in the 10 GB soak: merge task-seconds
    // 2.2x, wall +45% with the cache). Instead their planning pass scans
    // the PRE-dedup keys (below), so the version window runs ONCE — in
    // the join — and planning stays a column-pruned key scan.
    val srcOwnCache = !latestWins &&
      srcUncached.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val src =
      if (srcOwnCache) srcUncached.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else srcUncached
    try {

    val leadDt = schema.fields.find(_.name == keyCols.head).get.dataType
    // `_noop` rows join (their targets are "matched by source") but must
    // not WIDEN the rewrite: a file is only touched by keys some clause
    // fires for — untouched files keep their noop-matched rows by simply
    // not being rewritten
    // latest-wins planning scans the PRE-dedup source: the version window
    // keeps exactly one row per key tuple, so the key SET is identical,
    // and planning on src0 turns the planning pass into a column-pruned
    // key scan instead of a full execution of the dedup window (which
    // then runs exactly once, inside the rewrite join). Duplicate keys
    // are harmless to touchedFiles (it collects a set of file ids).
    val planSrc =
      if (latestWins) src0
      else if (sh.hasNoop) src.filter(!coalesce(col("_noop"), lit(false)))
      else src
    // ANSI duplicate-key probe launched CONCURRENTLY with touched-file
    // planning (guide §2.6 — overlap independent jobs): both consume only
    // the persisted source, so the probe's aggregate back-fills executor
    // slots behind the planning scan's tail instead of running as a second
    // sequential pass. Await sits at the original check site below.
    val dupsCountF: Option[scala.concurrent.Future[Long]] =
      if (latestWins) None
      else {
        val noopFlag =
          if (sh.hasNoop) coalesce(col("_noop"), lit(false)) else lit(false)
        val dupsDf = src.groupBy(keyC: _*)
          .agg(count(lit(1)).as("_cnt"),
            sum(when(noopFlag, 0L).otherwise(1L)).as("_modifying"))
          .filter(col("_cnt") > 1 && col("_modifying") >= 1L)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        Some(scala.concurrent.Future(dupsDf.count()))
      }
    val keyTouched = touchedFiles(st, planSrc.select(keyC: _*), keyCols)
    // NOT MATCHED BY SOURCE widens the rewrite to every file that may hold
    // a row its condition matches (the whole table when unconditional —
    // inherent to the semantics); the condition prunes via file stats
    val touched =
      if (!nmbs) keyTouched
      else {
        val cond = (notMatchedBySourceDelete.toSeq ++ notMatchedBySourceSet.map(_._1)).reduce(_ || _)
        (keyTouched ++ st.planFiles(Some(cond))).groupBy(_.path).map(_._2.head).toSeq
      }
    // bucket-on-key merge: the touched files scan bucketed (HashPartitioning
    // on the key — only the source side of the join shuffles) AND the join
    // output is physically bucket-co-partitioned, so the output rewrite
    // skips its range exchange too (see the `out` construction below)
    val bucketedN: Option[Int] =
      if (touched.isEmpty) None
      else st.bucketSpec(touched)
        .filter(b => keyCols.map(_.toLowerCase) == b.bucketColumnNames.map(_.toLowerCase))
        .map(_.numBuckets)
    val bucketedOnKey = bucketedN.isDefined
    val baseRaw =
      if (touched.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else targetScan(st, touched, keyCols)
    // position deletes applied: a DV-deleted target row is NOT MATCHED
    // (the source row inserts); replaceFiles clears the touched files' DVs.
    // MoR mode additionally carries each surviving row's (file, position)
    // so changed rows can be recorded as new DV entries
    val base =
      if (!mor) {
        if (touched.isEmpty) baseRaw else st.withPositionDeletes(baseRaw, touched)
      } else if (touched.isEmpty)
        baseRaw.withColumn("_gdv_rel", lit(null).cast(StringType))
          .withColumn("_gdv_idx", lit(null).cast(LongType))
      else st.withPositionDeletesKeepingPos(baseRaw, touched)

    if (!latestWins) {
      // ANSI MERGE: an error when a TARGET row is matched by more than one
      // source row AND at least one of them would modify it (Delta's rule) —
      // multiple NOT MATCHED inserts of one key are legal (each inserts),
      // and keys whose duplicate rows are ALL `_noop` (presence-only,
      // nothing fires) must not error. A single firing row among noop
      // duplicates STILL errors: the full-outer join is per source row, so
      // letting it through would emit both the updated image and a kept
      // copy of the target. The zero-dup fast path costs ONE source
      // aggregate; the touched-file semi-join runs only when duplicate keys
      // exist at all. (A .limit(1).collect() would run the groupBy through
      // CollectLimit's sequential partition batches.)
      val noopFlag =
        if (sh.hasNoop) coalesce(col("_noop"), lit(false)) else lit(false)
      val dups = src.groupBy(keyC: _*)
        .agg(count(lit(1)).as("_cnt"),
          sum(when(noopFlag, 0L).otherwise(1L)).as("_modifying"))
        .filter(col("_cnt") > 1 && col("_modifying") >= 1L)
      val dupCount = dupsCountF.map(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
        .getOrElse(dups.count())
      if (dupCount > 0) {
        val offending = dups.select(keyC: _*).join(
          base.select(keyC: _*), keyCols, "left_semi")
        for (ex <- offending.limit(1).collect().headOption)
          throw duplicateKeyError(ex.toSeq)
      }
    }

    // NOT MATCHED BY SOURCE condition/assignments precompute on the TARGET
    // side BEFORE the join (only target columns are in scope — no
    // ambiguity with same-named source columns is possible)
    val baseAug = {
      var b = base
      // first-match-wins when BOTH actions exist: the later clause only
      // fires where the earlier one did not
      val delRaw = notMatchedBySourceDelete.map(c => coalesce(c.cast("boolean"), lit(false)))
      val updRaw = notMatchedBySourceSet.map { case (c, _) => coalesce(c.cast("boolean"), lit(false)) }
      val (delFires, updFires) = (delRaw, updRaw) match {
        case (Some(d), Some(u)) =>
          if (notMatchedBySourceDeleteFirst) (Some(d), Some(u && !d)) else (Some(d && !u), Some(u))
        case other => other
      }
      for (d <- delFires) b = b.withColumn("_nmbs_del", d)
      for (u <- updFires; (_, set) <- notMatchedBySourceSet) {
        b = b.withColumn("_nmbs_upd", u)
        // values evaluate only where the clause condition holds (lazy If
        // branches): an ANSI-throwing assignment must not abort the merge
        // via rows the clause never applies to
        for ((name, v) <- set) b = b.withColumn(s"_tset_$name", when(col("_nmbs_upd"), v))
      }
      b
    }

    // explicit presence markers: with composite keys (or nullable key
    // columns) "which side is absent" must not be inferred from key nullness
    val t = baseAug.withColumn("_t_present", lit(true)).alias("t")
    // duplicate ALL-noop keys collapse to one presence assertion: the
    // full-outer join emits one row per (target, source-row) PAIR, so a key
    // asserted present twice would otherwise duplicate its kept target row
    // in the rewrite output (keys where any duplicate MODIFIES errored
    // above; latestWins dedups by version window instead)
    val srcJ =
      if (!latestWins && sh.hasNoop) {
        val noopC = coalesce(col("_noop"), lit(false))
        src.filter(!noopC).unionByName(src.filter(noopC).dropDuplicates(keyCols))
      } else src
    val s = srcJ.withColumn("_s_present", lit(true)).alias("s")
    val joinCond = keyCols.map(k => t(k) === s(k)).reduce(_ && _)
    val joined = t.join(s, joinCond, "full_outer")
    val c = clauses(sh, t(_), s(_))

    val totalBytes = math.max(touched.map(_.bytes).sum, 1L)
    // Size the JOIN shuffle by DATA, not the session's partition default:
    // the full-outer SMJ sorts each shuffle partition, and with the default
    // partition count a 10 GB merge puts ~300 MB per sort task — at high
    // local concurrency every task shares one heap, the sorts turn
    // multi-pass external and task time inflates several-fold (measured in
    // the 10× soak: local[32] merge task-seconds ~6x local[8]'s). Raising
    // AQE's initialPartitionNum caps per-task sort input near 64 MB while
    // AQE coalesces small post-shuffle partitions back — plan-time only,
    // SCOPED to the rewrite action (restored afterwards so a 100 GB merge
    // doesn't leave every later query on the session planning thousands of
    // initial partitions), a no-op when AQE is off.
    val aqeInitKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    def withScopedConf[T](key: String, value: String)(body: => T): T = {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
    def withJoinShuffleSizedByData[T](body: => T): T = {
      val conf = spark.sessionState.conf
      bucketedN match {
        case Some(n) =>
          // Bucket-on-key merge: the join's parallelism IS the bucket count.
          // A default shuffle parallelism ABOVE n makes EnsureRequirements
          // shuffle BOTH sides "for parallelism" instead of reusing the
          // bucketed scan's partitioning — observed in the 10 GB soak (the
          // data-sized initialPartitionNum bump below pushed the default to
          // 150 > 64 buckets: 10 GB of shuffle where ~0.1 GB was expected).
          // Pin the rewrite's default AT n so the planner reuses the layout;
          // per-task sort input is touchedBytes/n by construction — pick
          // bucket counts the way you'd pick shuffle partitions.
          withScopedConf("spark.sql.shuffle.partitions",
              math.min(conf.numShufflePartitions, n).toString) {
            if (conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled)
              withScopedConf(aqeInitKey, n.toString)(body)
            else body
          }
        case None =>
          if (!(conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled)) body
          else {
            val want = math.ceil(totalBytes.toDouble / (64L << 20)).toInt
            val cur = spark.conf.getOption(aqeInitKey).map(_.toInt)
              .getOrElse(conf.numShufflePartitions)
            if (want <= cur) body
            else withScopedConf(aqeInitKey, want.toString)(body)
          }
      }
    }

    // merge-on-read over the join: the SAME full-outer SMJ, so it needs the
    // same data-sized shuffle (the sort-heavy-op rule): without it a 10 GB
    // MoR merge sorts ~300 MB per task at session-default partitions
    if (mor)
      return withJoinShuffleSizedByData {
        val changed = joined.filter(c.dvRow || c.writeRow)
          .select(c.image ++ Seq(t("_gdv_rel").as("_gdv_rel"), t("_gdv_idx").as("_gdv_idx"),
            c.dvRow.as("_dv"), c.writeRow.as("_wr")): _*)
        // ONE join execution feeds both outputs: the changed set is the MoR
        // niche (small relative to touched bytes), so persisting it is the
        // cheap side of re-running the full-outer join twice
        changed.persist()
        try commitMergePos(st, sh, runId, log, touched,
            DeletionVectors.collect(changed.filter(col("_dv"))),
            Some(changed.filter(col("_wr")).select(cols.map(col): _*)), "join", t0, propertyUpdates)
        finally changed.unpersist()
      }

    val merged = joined
      .filter(c.keep)
      .select(c.image: _*)

    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    RowLevel.rewrite(st, "merge", runId, touched,
        Map("run-id" -> runId, "touched-files" -> touched.size.toString), t0, Some(log),
        propertyUpdates) { commitUuid =>
      val dir = s"${table.dataDir}/$commitUuid"
      // the footers of a rewrite staged by an earlier, crashed attempt are
      // read back from its dir (the writer drops all-empty outputs: an empty
      // range partition writes a 0-row file with no stats)
      if (log.doneSteps.contains("rewrite") && graft.table.FileIO.exists(s"$dir/_SUCCESS"))
        graft.table.StatsCollector.collect(
          spark, schema, table.root, graft.table.FileIO.listFilesRecursively(dir, ".parquet"), commitUuid)
      else withJoinShuffleSizedByData {
        graft.table.FileIO.deleteRecursively(dir)
        spark.sparkContext.setJobDescription(s"merge $runId (${touched.size} touched files)")
        // range-partition the merged output on the leading key WITHOUT sampling
        // the child (repartitionByRange would re-execute the full-outer join
        // just to pick boundaries): equi-depth boundaries come from the touched
        // files' key bounds weighted by row counts — free, from metadata.
        // EVERY supported key type maps into an order-preserving Long space
        // matching its canonical bound encoding (strings → 8-byte packed
        // prefix, timestamps → epoch micros, dates → epoch days, integrals
        // verbatim), so post-merge files carry TIGHT per-file key bounds and
        // the NEXT merge's touchedFiles interval index prunes — a hash
        // scatter would leave every output file spanning the whole key space
        // (type table + shared-prefix strip live in OrderedEncoding — the
        // same embedding generic Z-order clustering range-scales by, so one
        // bit-identity contract covers every range-layout pass)
        val steer: Option[(Column, String => Long)] = {
          // an 8-char pack cannot see past a long SHARED prefix — web URLs
          // all start "https://…", which pinned every packed key to one
          // value and collapsed a 10 GB merge output into ONE file (found
          // by the 10× soak). Strip the touched files' common bound prefix
          // before packing, on both the row side and the metadata side
          // (bounds are prefix-truncated, so their lcp is a prefix of every
          // key's — sound). Keys outside the prefix (new inserts) only
          // loosen bounds, never correctness.
          val lcpLen = leadDt match {
            case StringType =>
              val boundStrs = touched.flatMap(f =>
                f.minValues.get(keyCols.head) ++ f.maxValues.get(keyCols.head))
              if (boundStrs.isEmpty) 0
              else boundStrs.reduce(graft.functions.OrderedEncoding.lcp(_, _)).length
            case _ => 0
          }
          // every key type touchedFiles accepts (Bounds.supported: no binary,
          // no nested) has a Long-sized encoding — wide decimals p <= 38 steer
          // via the monotone nearest-double embedding since r6. BooleanType
          // is encodable but its 2-value key space degenerates equi-depth
          // boundaries to <=2 populated partitions — a boolean-leading merge
          // would funnel its whole sort through 1-2 tasks; hash scatter keeps
          // the rewrite parallel (range bounds on a 2-value lead key carry no
          // pruning power anyway)
          leadDt match {
            case BooleanType => None
            case _ => graft.functions.OrderedEncoding.forType(leadDt, col(keyCols.head), lcpLen)
          }
        }
        val bds = steer.map { case (_, enc) =>
          RangeShuffle.boundariesFromFileMeta(touched, keyCols.head, nOut, enc)
        }
        val out =
          if (nOut <= 1) merged
          // bucket-on-key table: every output row's final key equals the side
          // it joined from (image key = coalesce(t.key, s.key)), and both join
          // inputs are HashPartitioning(key, n) — target via the bucketed scan,
          // source shuffled to match — so each join partition IS one bucket.
          // Catalyst reports UnknownPartitioning for a full-outer join (the
          // per-side key attributes null-extend), but the PHYSICAL placement
          // is exact, so the range exchange is pure waste here: writing the
          // join output directly gives one partitionBy dir per task, and the
          // in-partition sort + record rolling below still produce key-ordered
          // files with tight per-file bounds WITHIN each bucket (what the next
          // merge's interval index stabs). Net shuffle of a bucketed merge:
          // the source rows, nothing else.
          else if (bucketedOnKey) merged
          else (steer, bds) match {
            // missing/collapsed boundaries (no bounds, or a keyspace the
            // packed encoding cannot discriminate): range steering would
            // write a handful of oversized files — scatter instead
            case (Some((kc, _)), Some(b)) if b.length >= math.max(1, nOut / 4) =>
              RangeShuffle.byRange(merged, kc, b)
            case _ => merged.repartition(nOut, keyC: _*)
          }
        // in-partition sort + record rolling (the compact/cluster recipe):
        // when a Z-ordered table leaves the metadata boundaries too coarse
        // to cut nOut ranges (every touched file spans the whole key space),
        // each steered partition still splits into right-sized files, and
        // the sort makes every rolled file a key-ordered run with TIGHT
        // min/max bounds — what the NEXT merge's interval index prunes by.
        // Rolling is sized from the TOUCHED rows and only engages when the
        // rewrite wants several files: an insert-only merge has zero touched
        // rows (nOut = 1) and an unconditional roll of max(1, 0/1) = 1 would
        // write one parquet file PER ROW
        val touchedRows = touched.map(_.rows).sum
        val rollRecords = if (nOut <= 1 || touchedRows == 0) 0L
          else math.max(1L, touchedRows / nOut)
        val metas = st.writeDataFiles(out.sortWithinPartitions(keyC: _*), commitUuid,
          maxRecordsPerFile = rollRecords)
        Maintenance.markDone(table, log, "rewrite")
        metas
      }
    }
    } finally {
      // release the one-merge source cache and the job label (a stale
      // description would mislabel every later job in the session's UI)
      if (srcOwnCache) { src.unpersist(); () }
      spark.sparkContext.setJobDescription(null)
    }
  }

  /** What a merge's source and clauses look like: the table, the keys, the
    * semantics, and the reserved columns (see the class doc) the normalized
    * source carries. */
  private final case class Shape(
      schema: StructType,
      keyCols: Seq[String],
      versionCol: String,
      latestWins: Boolean,
      srcCols: Seq[String],
      resolver: (String, String) => Boolean,
      nmbsDelete: Boolean,
      nmbsUpdate: Boolean,
      nmbsSetCols: Set[String]) {
    private def reserved(prefix: String): Set[String] =
      srcCols.collect { case c if c.startsWith(prefix) => c.stripPrefix(prefix) }.toSet
    /** `_set_<c>`: column-level update image; `_setw_<c>` its per-row mask. */
    val setCols: Set[String] = reserved("_set_")
    val setwCols: Set[String] = reserved("_setw_")
    /** `_ins_<c>`: column-level insert image; `_insw_<c>` its per-row mask. */
    val insCols: Set[String] = reserved("_ins_")
    val inswCols: Set[String] = reserved("_insw_")
    val hasNoop: Boolean = srcCols.contains("_noop")
    /** Whether the source has column `c`, under the session resolver
      * (case-insensitive by default), like resolving `s(c)` itself. */
    def srcHas(c: String): Boolean = srcCols.exists(resolver(_, c))
  }

  /** The clause matrix of a merge over one row of its full-outer (target,
    * source) pairing: which target rows stay in a rewrite (`keep`), which
    * leave their file as a DV entry (`dvRow`), which pairs append an image
    * (`writeRow`), and the image itself, one column per table column. */
  private final case class Clauses(keep: Column, dvRow: Column, writeRow: Column, image: Seq[Column])

  /** [[Clauses]] over accessors of one pair: `t(c)`/`s(c)` read the
    * target/source column `c`, and `_t_present`/`_s_present` say which sides
    * exist. The join plan evaluates it over the joined rows and the driver
    * plan over a local relation of the pairs it found, so both plans share
    * every clause's semantics. */
  private def clauses(sh: Shape, t: String => Column, s: String => Column): Clauses = {
    val sP = coalesce(s("_s_present"), lit(false))
    val tP = coalesce(t("_t_present"), lit(false))
    val del = coalesce(s("_deleted"), lit(false))
    val noop = if (sh.hasNoop) coalesce(s("_noop"), lit(false)) else lit(false)
    val applies =
      if (sh.latestWins) sP && tP && s(sh.versionCol) >= t(sh.versionCol)
      else sP && tP
    val nmbsDel = if (sh.nmbsDelete) coalesce(t("_nmbs_del"), lit(false)) else lit(false)
    val nmbsUpd = if (sh.nmbsUpdate) coalesce(t("_nmbs_upd"), lit(false)) else lit(false)
    // unmatched target rows: kept, unless a NOT MATCHED BY SOURCE DELETE fires
    val keep = when(!sP, !nmbsDel)
      .when(applies && del, lit(false)) // newest change is a delete
      .when(!tP && del, lit(false)) // delete for an absent key: no-op
      .when(!tP && noop, lit(false)) // presence assertion for an absent key
      .otherwise(lit(true))
    // a source may legitimately omit schema columns it never writes (e.g. a
    // column-level UPDATE with no INSERT clause): full-row images read
    // missing source columns as typed NULLs — the branches referencing them
    // are unreachable for such sources, but Catalyst resolves them anyway
    def sOr(c: String, dt: DataType): Column = if (sh.srcHas(c)) s(c) else lit(null).cast(dt)
    val image = sh.schema.fields.toSeq.map { f =>
      val c = f.name
      val updImage = if (sh.setCols.isEmpty) sOr(c, f.dataType)
        else if (sh.setCols.contains(c)) {
          val v = s(s"_set_$c").cast(f.dataType)
          // per-row mask: the firing clause may not assign this column
          if (sh.setwCols.contains(c))
            when(coalesce(s(s"_setw_$c"), lit(false)), v).otherwise(t(c))
          else v
        } else t(c)
      val insImage = if (sh.insCols.isEmpty) sOr(c, f.dataType)
        else if (sh.insCols.contains(c)) {
          val v = s(s"_ins_$c").cast(f.dataType)
          if (sh.inswCols.contains(c))
            when(coalesce(s(s"_insw_$c"), lit(false)), v) // else NULL
          else v
        } else if (sh.keyCols.contains(c)) s(c) // key columns always carry over
        else lit(null).cast(f.dataType)
      val withMain = when(applies && !del && !noop, updImage)
        .when(!tP && sP, insImage) // insert (del rows were filtered above)
      (if (sh.nmbsSetCols.contains(c))
        withMain.when(!sP && nmbsUpd, t(s"_tset_$c").cast(f.dataType))
      else withMain)
        .otherwise(t(c)).as(c)
    }
    // merge-on-read: a target row leaves its file iff a matched clause fires
    // for it (update OR delete) or a NOT MATCHED BY SOURCE action hits it;
    // an image is appended for updates and inserts (deletes only produce
    // the DV entry)
    val matchedFires = applies && !noop
    val dvRow = tP && (matchedFires || (!sP && (nmbsDel || nmbsUpd)))
    val writeRow = (matchedFires && !del) || (!tP && sP && !del && !noop) || (!sP && nmbsUpd)
    Clauses(keep, dvRow, writeRow, image)
  }

  /** The latest change per key tuple: greatest version wins; delete beats
    * upsert on ties. */
  private def latestPerKey(df: DataFrame, sh: Shape): DataFrame = {
    val w = Window.partitionBy(sh.keyCols.map(col): _*)
      .orderBy(col(sh.versionCol).desc, col("_deleted").desc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  private def duplicateKeyError(key: Seq[Any]): IllegalArgumentException =
    new IllegalArgumentException(
      s"MERGE source has multiple rows for matched key '${key.mkString(",")}' " +
        s"(a target row must not be modified by more than one source row)")

  /** Whether a merge-on-read merge of the normalized source `src` plans on
    * the driver ([[mergeOnReadOnDriver]]): the optimizer's size estimate of
    * `src` is within `spark.sql.autoBroadcastJoinThreshold` (`-1` turns the
    * driver plan off), and every key column has the target's type and a
    * type whose driver-side equality is Spark's join equality (no float or
    * double: NaN and -0.0; no binary or nested type). NOT MATCHED BY SOURCE
    * merges never get here: they need every candidate file's rows. */
  private def plansOnDriver(spark: org.apache.spark.sql.SparkSession, sh: Shape,
      src: DataFrame): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    def driverEquality(dt: DataType): Boolean = dt match {
      case FloatType | DoubleType => false
      case st: StringType => org.apache.spark.sql.graftshim.Shims.binaryEquality(st)
      case other => Bounds.supported(other)
    }
    threshold >= 0 &&
      sh.keyCols.forall { k =>
        val dt = sh.schema(k).dataType
        driverEquality(dt) && src.schema.fields.exists(f => sh.resolver(f.name, k) && f.dataType == dt)
      } &&
      src.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
  }

  /**
   * The merge-on-read merge of a small source, planned on the driver in at
   * most three Spark jobs: collect the normalized source; scan the touched
   * files once for the live rows whose keys the source names; write the
   * images. Everything between runs on the driver with no job: the
   * touched-file probe over the collected keys, the pairing of source rows
   * with matched rows (a NULL key never matches), the ANSI duplicate-key
   * check, the clause matrix ([[clauses]] over a local relation of the
   * pairs — the optimizer folds a Filter or Project over a LocalRelation
   * into a new LocalRelation) and the DV bitmaps.
   */
  private def mergeOnReadOnDriver(st: TableState, sh: Shape, src0: DataFrame, runId: String,
      log: graft.table.StepLog, t0: Long, propertyUpdates: Map[String, String]): Snapshot = {
    import scala.jdk.CollectionConverters._
    val spark = st.table.spark
    val schema = st.schema
    val keyCols = sh.keyCols
    // one partition satisfies the version window's distribution: the window
    // runs without an exchange
    val srcDf = if (sh.latestWins) latestPerKey(src0.coalesce(1), sh) else src0
    val srcRows = srcDf.collect().toSeq
    val srcSchema = srcDf.schema
    val srcKeyIdx = keyCols.map(k => srcSchema.fieldNames.indexWhere(sh.resolver(_, k)))
    // key tuples compare as JVM values: the gate admits only key types whose
    // JVM equality is Spark's, and equal source and target types (so equal
    // decimal scales); a tuple with a NULL never matches
    def keyOf(r: Row, idx: Seq[Int]): Option[Seq[Any]] = Some(idx.map(r.get)).filterNot(_.contains(null))
    val noopIdx = srcSchema.fieldNames.indexOf("_noop")
    def isNoop(r: Row): Boolean = noopIdx >= 0 && !r.isNullAt(noopIdx) && r.getBoolean(noopIdx)
    // `_noop` rows never widen the touched set: no clause fires for them
    val probeKeys = srcRows.filterNot(isNoop).flatMap(r => keyOf(r, srcKeyIdx)).distinct
    val touched = touchedFiles(st, spark.createDataFrame(probeKeys.map(Row.fromSeq).asJava,
      StructType(keyCols.zip(srcKeyIdx).map { case (k, i) => srcSchema(i).copy(name = k) })), keyCols)
    // the matched target rows, grouped by key tuple: key, version and
    // position, plus every target column when an update image keeps some
    val tNeeded = (keyCols ++
      (if (sh.setCols.nonEmpty) schema.fieldNames.toSeq
      else Seq(sh.versionCol).filter(_ => sh.latestWins))).distinct
    val matched: Map[Seq[Any], Seq[Row]] =
      if (touched.isEmpty || probeKeys.isEmpty) Map.empty
      else {
        // one IN set per key column: a superset of the key tuples, pushed
        // into the scan; the pairing below matches whole tuples
        val inKeys = keyCols.indices.map(j => col(keyCols(j)).isInCollection(probeKeys.map(_(j)).distinct))
          .reduce(_ && _)
        st.withPositionDeletesKeepingPos(targetScan(st, touched, keyCols), touched)
          .filter(inKeys).select((tNeeded ++ Seq("_gdv_rel", "_gdv_idx")).map(col): _*)
          .collect().toSeq.groupBy(r => keyOf(r, keyCols.indices))
          .collect { case (Some(k), rs) => k -> rs }
      }
    if (!sh.latestWins)
      srcRows.groupBy(r => keyOf(r, srcKeyIdx)).collectFirst {
        case (Some(k), rs) if rs.size > 1 && rs.exists(!isNoop(_)) && matched.contains(k) => k
      }.foreach(k => throw duplicateKeyError(k))
    // the pairs, as the full-outer join would emit them minus unmatched
    // target rows (no clause acts on those without NOT MATCHED BY SOURCE):
    // target columns at _t<i> (those not read stay NULL), then presence and
    // position; source columns at _s<j>, then presence
    val tNames = schema.fieldNames.toSeq ++ Seq("_t_present", "_gdv_rel", "_gdv_idx")
    val sNames = srcSchema.fieldNames.toSeq :+ "_s_present"
    val tSlots = tNeeded.map(schema.fieldNames.indexOf(_)) ++ (schema.size + 1 to schema.size + 2)
    def targetSide(r: Row): Array[Any] = {
      val out = new Array[Any](tNames.size)
      tSlots.zipWithIndex.foreach { case (slot, j) => out(slot) = r.get(j) }
      out(schema.size) = true
      out
    }
    val absent = new Array[Any](tNames.size)
    val pairRows = srcRows.flatMap { r =>
      val sSide = r.toSeq :+ true
      keyOf(r, srcKeyIdx).flatMap(matched.get) match {
        case Some(ts) => ts.map(t => Row.fromSeq(targetSide(t).toSeq ++ sSide))
        case None => Seq(Row.fromSeq(absent.toSeq ++ sSide))
      }
    }
    val pairSchema = StructType(
      (schema.fields.map(_.dataType) ++ Seq(BooleanType, StringType, LongType)).zipWithIndex
        .map { case (dt, i) => StructField(s"_t$i", dt) } ++
        (srcSchema.fields.map(_.dataType) :+ BooleanType).zipWithIndex
          .map { case (dt, j) => StructField(s"_s$j", dt) })
    def side(names: Seq[String], prefix: String)(c: String): Column = {
      val i = names.indexWhere(sh.resolver(_, c))
      require(i >= 0, s"no column $c on the merge's $prefix side")
      col(s"$prefix$i")
    }
    val c = clauses(sh, side(tNames, "_t"), side(sNames, "_s"))
    val n = schema.size
    val changed = spark.createDataFrame(pairRows.asJava, pairSchema)
      .filter(c.dvRow || c.writeRow)
      .select(c.image ++ Seq(col(s"_t${n + 1}"), col(s"_t${n + 2}"),
        c.dvRow.as("_dv"), c.writeRow.as("_wr")): _*)
    val rows = changed.collect()
    def flag(r: Row, i: Int): Boolean = !r.isNullAt(i) && r.getBoolean(i)
    val images = rows.filter(flag(_, n + 3)).map(r => Row.fromSeq(r.toSeq.take(n))).toSeq
    commitMergePos(st, sh, runId, log, touched,
      DeletionVectors.of(rows.iterator.filter(flag(_, n + 2)).map(r => (r.getString(n), r.getLong(n + 1)))),
      Some(images).filter(_.nonEmpty).map(is =>
        spark.createDataFrame(is.asJava, StructType(changed.schema.take(n))).coalesce(1)),
      "driver", t0, propertyUpdates)
  }

  /** Both merge-on-read plans commit here, one `merge-pos` commit of the
    * changed rows' DV `bitmaps` and the `images` (None: none), sorted by key
    * within each task for tight key bounds; `merge-plan` names the plan. */
  private def commitMergePos(st: TableState, sh: Shape, runId: String, log: graft.table.StepLog,
      touched: Seq[DataFileMeta], bitmaps: DeletionVectors.Bitmaps, images: Option[DataFrame],
      plan: String, t0: Long, propertyUpdates: Map[String, String]): Snapshot =
    RowLevel.mergeOnRead(st, "merge-pos", runId, touched, bitmaps,
        images.map(_.sortWithinPartitions(sh.keyCols.map(col): _*)), t0,
        st.snapshot.map(_.id), Some(log), propertyUpdates) { added =>
      Map("run-id" -> runId, "touched-files" -> touched.size.toString,
        "merge-plan" -> plan,
        "added-files" -> added.size.toString,
        "added-rows" -> added.map(_.rows).sum.toString)
    }

  /**
   * Copy-on-write UPDATE WHERE: rewrites only files that may contain
   * matching rows (metadata pruning), replacing the assigned columns where
   * the predicate holds. All assignments evaluate against the PRE-update
   * row (ANSI UPDATE semantics) — they run in one projection.
   */
  def updateWhere(
      table: GraftTable,
      predicate: Column,
      set: Map[String, Column],
      runId: String = java.util.UUID.randomUUID.toString): Snapshot =
    orCurrent(table, RowLevel.where(table, predicate, Some(set), RowLevel.CopyOnWrite, runId))

  /**
   * Copy-on-write DELETE WHERE: rewrites only files that may contain
   * matching rows (metadata pruning), filtering them with the negated
   * predicate — the set-based form of the reference's regex-rowkey delete
   * scan (`adapter/HBaseTargetAdapter.java:124-196`).
   */
  def deleteWhere(
      table: GraftTable,
      predicate: Column,
      runId: String = java.util.UUID.randomUUID.toString): Snapshot =
    orCurrent(table, RowLevel.where(table, predicate, None, RowLevel.CopyOnWrite, runId))

  /** `committed`, or the current snapshot when nothing was to be done. */
  private def orCurrent(table: GraftTable, committed: Option[Snapshot]): Snapshot =
    committed.orElse(table.currentSnapshot).getOrElse(throw new IllegalStateException("empty table"))

  /**
   * Predicate-scoped atomic overwrite (Delta's `replaceWhere`): one commit
   * that deletes every row matching `predicate` and inserts `data` — the
   * backfill primitive ("recompute one day of the corpus") the reference
   * ran as a full DROP/RENAME table swap (`hive/HiveTableIR.java:296-299`).
   *
   * Scale shape: only files whose stats/partition bounds INTERSECT the
   * predicate are touched (metadata prune, no scan to plan); their
   * non-matching rows are rewritten alongside the new data in one pass; all
   * other files are untouched manifest entries. On a day-partitioned 100 TB
   * table a one-day backfill reads and writes one day, not the table.
   *
   * `validate=true` (default, as Delta) refuses `data` rows that do NOT
   * match the predicate — a misplaced row would silently land outside the
   * region the caller believes they replaced. The full validation scan is
   * one parallel count over the incoming frame.
   */
  def replaceWhere(
      table: GraftTable,
      predicate: Column,
      data: DataFrame,
      runId: String = java.util.UUID.randomUUID.toString,
      validate: Boolean = true): Snapshot = {
    val t0 = System.nanoTime()
    val st = table.state
    if (validate) {
      // full parallel count, not take(1): proving absence must scan it all
      // anyway, and CollectLimit's incremental partition batches would
      // serialize the scan (see Cluster's key-sample lesson)
      val bad = data.filter(!coalesce(predicate, lit(false))).count()
      require(bad == 0,
        s"replaceWhere: $bad incoming rows do not match the predicate " +
          s"($predicate) — they would land outside the replaced region; " +
          "fix the data or pass validate=false to keep them")
    }
    val touched = st.planFiles(Some(predicate))
    // project the incoming frame to the table schema ONCE — the empty-
    // touched branch must union the same shape as the read-back branch
    val aligned = data.select(st.schema.fieldNames.map(col): _*)
    val kept =
      if (touched.isEmpty) aligned.limit(0)
      else st.readFiles(touched).filter(!coalesce(predicate, lit(false)))
    RowLevel.rewrite(st, "overwrite", runId, touched,
      Map("run-id" -> runId, "predicate" -> predicate.toString), t0)(
      st.writeDataFiles(kept.unionByName(aligned), _))
  }
}

/** The candidate files of one canonical key row of [[Merge.touchedFiles]]
  * (leading key, residual keys, then one bucket id per bucket spec): the
  * interval index stabs the leading key, then the residual bounds and the
  * bucket dirs filter its window. Serializable: the probe job ships it in
  * its task binary, and a driver-side probe calls it directly. */
private final class TouchedCandidates(
    index: IntervalIndex,
    resDts: Array[DataType],
    resMin: Array[Array[String]],
    resMax: Array[Array[String]],
    fileBuckets: Array[Array[Int]]) extends Serializable {

  def apply(r: org.apache.spark.sql.Row): Seq[Int] =
    if (r.isNullAt(0)) Seq.empty
    else {
      val bOff = 1 + resDts.length
      index.overlapping(r.getString(0)).filter { fid =>
        var ok = true
        var j = 0
        while (ok && j < resDts.length) {
          if (!r.isNullAt(j + 1)) {
            val v = r.getString(j + 1)
            val lo = resMin(j)(fid); val hi = resMax(j)(fid)
            if (lo != null && Bounds.compare(resDts(j), v, lo) < 0) ok = false
            else if (hi != null && Bounds.compare(resDts(j), v, hi) > 0) ok = false
          }
          j += 1
        }
        var s = 0
        while (ok && s < fileBuckets.length) {
          val b = fileBuckets(s)(fid)
          if (b >= 0 && !r.isNullAt(bOff + s) && r.getInt(bOff + s) != b) ok = false
          s += 1
        }
        ok
      }
    }
}
