package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedStar}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
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
 * Explicit clauses (`clauses`, ANSI semantics) replace that fixed list:
 * ordered WHEN MATCHED (`Delete` | `Update(set)`), WHEN NOT MATCHED
 * (`Insert(values)`) and WHEN NOT MATCHED BY SOURCE (`Delete` |
 * `Update(set)`) clauses, each with an optional condition, evaluated
 * first-match-wins over every (target, source) pair. Conditions and values
 * name their side as `t.<col>` or `s.<col>`; an update keeps the target's
 * value for each column it does not set, an insert writes NULL there. The
 * SQL front door ([[graft.sql.GraftMergeRule]]) builds this list straight
 * from the statement. The CDC form above is itself the clause list
 * [[cdcClauses]].
 *
 * Scale design: touched-file planning ships only the per-file [min,max]
 * key intervals (tiny), maps each source key tuple to overlapping files and
 * collects one file-id set per source partition (one Spark job, no
 * exchange); the join runs as a Catalyst-planned sort-merge join (asserted
 * in tests via the physical plan); untouched files are carried into the
 * new snapshot unchanged.
 *
 * Each write mode has two plans with the same clause semantics
 * ([[matrix]] is the one clause matrix all of them evaluate):
 *  - the DRIVER plan, for a small source: when the optimizer's size
 *    estimate of the normalized source is within
 *    `spark.sql.autoBroadcastJoinThreshold` (`-1` turns it off), the merge
 *    collects the source, probes touched files on the driver, and scans
 *    them once: merge-on-read for the live rows whose keys the source
 *    names, copy-on-write for every live row. It pairs and applies the
 *    clauses on the driver, and Spark's parquet writer writes the output
 *    in the driver thread ([[TableState.writeRows]]) — two Spark jobs,
 *    nothing persisted. Copy-on-write takes it only for an unpartitioned
 *    table whose touched files are within the same threshold in bytes
 *    (each touched row comes to the driver); past that, the collected
 *    source joins as a local relation;
 *  - the JOIN plan, for everything else: the full-outer join of the
 *    source against the touched files. NOT MATCHED BY SOURCE clauses (they
 *    need every candidate file's rows), key columns whose source and
 *    target types differ, and key types whose driver-side equality is not
 *    Spark's (float, double, binary, nested) always take it.
 * The snapshot's summary names the plan (`merge-plan`).
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
    * scan parallelism at n for nothing. Everything else scans the
    * touched files through the unbucketed snapshot relation (size-split
    * parallelism, file statuses from metadata). Join
    * parallelism under the bucketed path is n — that is the user's declared
    * layout; per-task sort input is touchedBytes/n, so pick bucket counts
    * the way you'd pick shuffle partitions. */
  private[graft] def targetScan(state: TableState, touched: Seq[DataFileMeta],
      keyCols: Seq[String]): DataFrame = {
    val bs = state.bucketSpec(touched).filter { b =>
      keyCols.map(_.toLowerCase) == b.bucketColumnNames.map(_.toLowerCase)
    }
    state.relation(touched, bucketed = bs)
  }

  /** One WHEN clause of an explicit MERGE clause list (see the class doc);
    * `cond` None fires always. */
  sealed trait Clause {
    def action: Action
    def cond: Option[Column]
  }
  /** WHEN MATCHED [AND cond] THEN DELETE | UPDATE SET … */
  final case class WhenMatched(action: RowAction, cond: Option[Column] = None) extends Clause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT … */
  final case class WhenNotMatched(action: Insert, cond: Option[Column] = None) extends Clause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE | UPDATE SET … */
  final case class WhenNotMatchedBySource(action: RowAction, cond: Option[Column] = None) extends Clause

  sealed trait Action
  /** An action on an existing target row. */
  sealed trait RowAction extends Action
  case object Delete extends RowAction
  /** Table column → new value; the columns it does not set keep the target's. */
  final case class Update(set: Map[String, Column]) extends RowAction
  /** Table column → value of the new row; the columns it does not set are NULL. */
  final case class Insert(values: Map[String, Column]) extends Action

  /**
   * Execute a merge of `source` into the table on `keyCols`. Returns the
   * committed snapshot.
   *
   * Without `clauses` the source is a CDC change set (optional `_deleted`
   * marker, see the class doc). `latestWins` = true (default) keeps the
   * reference's HBase-cell semantics: a source row older than the target
   * row (by `versionCol`) is a late-arriving change and loses.
   * `latestWins` = false gives ANSI MERGE semantics (matched source rows
   * always apply), which explicit `clauses` require.
   */
  def into(
      table: GraftTable,
      source: DataFrame,
      keyCols: Seq[String] = Seq("url"),
      versionCol: String = "warc_ts",
      targetFileBytes: Long = 128L * 1024 * 1024,
      runId: String = java.util.UUID.randomUUID.toString,
      latestWins: Boolean = true,
      clauses: Seq[Clause] = Nil,
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
    // under latest-wins CDC semantics a clause has no version to compare,
    // and "absent from this change batch" carries no meaning
    require(clauses.isEmpty || !latestWins,
      "explicit MERGE clauses require ANSI semantics (latestWins = false)")
    // NOT MATCHED BY SOURCE clauses act on TARGET rows without a source
    // match (ANSI), so they need every candidate file's rows
    val nmbs = clauses.exists(_.isInstanceOf[WhenNotMatchedBySource])
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
    clauses.foreach(checkAssignments(_, cols, keyCols))

    val resolver = spark.sessionState.analyzer.resolver
    val given =
      if (clauses.nonEmpty || source.columns.contains("_deleted")) source
      else source.withColumn("_deleted", lit(false))
    // besides the keys, a CDC list reads only the version of the target
    val (cl, targetCols) =
      if (clauses.nonEmpty) (clauses, cols)
      else (cdcClauses(schema, given.columns.toSeq, versionCol, latestWins, resolver),
        Seq(versionCol).filter(_ => latestWins))
    val sh = Shape(schema, keyCols, versionCol, latestWins, cl, (keyCols ++ targetCols).distinct, resolver)
    val keyC = keyCols.map(col)
    val driver =
      if (!nmbs && plansOnDriver(spark, sh, if (latestWins) latestPerKey(given, sh) else given))
        Some(new DriverSource(st, sh, given))
      else None
    for (ds <- driver) {
      if (mor) return mergeOnReadOnDriver(st, sh, ds, runId, log, t0, propertyUpdates)
      // copy-on-write collects every live row of the touched files
      if (st.partitionSpecs.isEmpty &&
          ds.touched.map(_.bytes).sum <= spark.sessionState.conf.autoBroadcastJoinThreshold)
        return copyOnWriteOnDriver(st, sh, ds, targetFileBytes, runId, log, t0, propertyUpdates)
    }
    // the join plan; a collected source whose copy-on-write touches more
    // bytes than the driver plan collects joins as its collected rows
    val src0 = driver.fold(given)(_.frame)
    val src = if (latestWins && driver.isEmpty) latestPerKey(src0, sh) else src0
    try {

    val leadDt = schema.fields.find(_.name == keyCols.head).get.dataType
    // latest-wins planning scans the PRE-dedup source: the version window
    // keeps exactly one row per key tuple, so the key SET is identical,
    // and planning on src0 turns the planning pass into a column-pruned
    // key scan instead of a full execution of the dedup window (which
    // then runs exactly once, inside the rewrite join). Duplicate keys
    // are harmless to touchedFiles (it collects a set of file ids). ANSI
    // planning scans the rows a clause may fire for, where decidable.
    val planSrc = if (latestWins) src0 else mayFire(sh, src).getOrElse(src)
    // ANSI duplicate-key probe launched CONCURRENTLY with touched-file
    // planning (guide §2.6 — overlap independent jobs): the aggregate
    // back-fills executor slots behind the planning scan's tail instead of
    // running as a second sequential pass. A source without duplicate keys
    // pairs every target row with at most one source row, so the ANSI
    // cardinality rule needs nothing more.
    val dupKeysF: Option[scala.concurrent.Future[Boolean]] =
      if (latestWins) None
      else {
        // one result job over the aggregate, each task saying whether its
        // partition has a duplicate key (count() would add an aggregation)
        val dups = src.groupBy(keyC: _*).agg(count(lit(1)).as("_cnt")).filter(col("_cnt") > 1)
          .select(lit(true)).as(Encoders.scalaBoolean)
          .mapPartitions(rows => Iterator.single(rows.hasNext))(Encoders.scalaBoolean)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        Some(scala.concurrent.Future(dups.collect().contains(true)))
      }
    val keyTouched = touchedFiles(st, planSrc.select(keyC: _*), keyCols)
    // NOT MATCHED BY SOURCE widens the rewrite to every file that may hold
    // a row one of its conditions matches (the whole table when one is
    // unconditional — inherent to the semantics); the conditions prune via
    // file stats
    val touched =
      if (!nmbs) keyTouched
      else {
        val cond = sh.clauses.collect {
          case WhenNotMatchedBySource(_, c) => c.fold(lit(true))(unqualified)
        }.reduce(_ || _)
        (keyTouched ++ st.planFiles(Some(cond))).groupBy(_.path).map(_._2.head).toSeq
      }
    val dupKeys = dupKeysF.exists(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
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
    // Merge-on-read, and a source with duplicate keys, additionally carry
    // each surviving row's (file, position): merge-on-read records changed
    // rows as new DV entries, and the ANSI cardinality rule is decided per
    // target row
    val keepPos = mor || dupKeys
    val base =
      if (touched.isEmpty && keepPos)
        baseRaw.withColumn("_gdv_rel", lit(null).cast(StringType))
          .withColumn("_gdv_idx", lit(null).cast(LongType))
      else if (touched.isEmpty) baseRaw
      else if (keepPos) st.withPositionDeletesKeepingPos(baseRaw, touched)
      else st.withPositionDeletes(baseRaw, touched)

    // explicit presence markers: with composite keys (or nullable key
    // columns) "which side is absent" must not be inferred from key nullness
    val t = base.withColumn("_t_present", lit(true)).alias("t")
    val s = src.withColumn("_s_present", lit(true)).alias("s")
    val joinCond = keyCols.map(k => t(k) === s(k)).reduce(_ && _)
    val m = matrix(sh)
    val pairs = t.join(s, joinCond, "full_outer").withColumn(Fired, m.fired)

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

    // ANSI cardinality: an error when a target row (its file and position)
    // is changed by more than one source row. Rows no clause fires for are
    // legal duplicates: the rewrite keeps their target row once (below)
    if (dupKeys) withJoinShuffleSizedByData {
      val twice = pairs.filter(m.dvRow).groupBy(tc("_gdv_rel"), tc("_gdv_idx"))
        .agg(count(lit(1)).as("_n"), keyCols.map(k => first(tc(k)).as(k)): _*)
        .filter(col("_n") > 1)
      for (ex <- twice.select(keyC: _*).limit(1).collect().headOption)
        throw duplicateKeyError(ex.toSeq)
    }

    // merge-on-read over the join: the SAME full-outer SMJ, so it needs the
    // same data-sized shuffle (the sort-heavy-op rule): without it a 10 GB
    // MoR merge sorts ~300 MB per task at session-default partitions
    if (mor)
      return withJoinShuffleSizedByData {
        val changed = pairs.filter(m.dvRow || m.writeRow)
          .select(m.image ++ Seq(tc("_gdv_rel").as("_gdv_rel"), tc("_gdv_idx").as("_gdv_idx"),
            m.dvRow.as("_dv"), m.writeRow.as("_wr")): _*)
        // ONE join execution feeds both outputs: the changed set is the MoR
        // niche (small relative to touched bytes), so persisting it is the
        // cheap side of re-running the full-outer join twice
        changed.persist()
        try commitMergePos(st, runId, log, touched,
            DeletionVectors.collect(changed.filter(col("_dv"))),
            Some(st.writeDataFiles(changed.filter(col("_wr")).select(cols.map(col): _*)
              .sortWithinPartitions(keyC: _*), _)), "join", t0, propertyUpdates)
        finally changed.unpersist()
      }

    val merged = {
      val kept =
        if (!dupKeys) pairs.filter(m.keep)
        else {
          // a target row paired with several source rows stays ONE row: the
          // pair a clause fired for, else its first pair (source-only rows
          // are spread by their key)
          val w = Window.partitionBy(tc("_gdv_rel") +: tc("_gdv_idx") +:
            keyCols.map(k => when(!tPresent, sc(k))): _*).orderBy(m.dvRow.desc)
          pairs.withColumn("_rn", row_number().over(w))
            .filter(m.keep && (!tPresent || col("_rn") === 1))
        }
      kept.select(m.image: _*)
    }

    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    RowLevel.rewrite(st, "merge", runId, touched, mergeSummary(runId, touched, "join"), t0, Some(log),
        propertyUpdates) { commitUuid =>
      staged(st, log, commitUuid)(withJoinShuffleSizedByData {
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
          // the source rows, nothing else. (A source with duplicate keys
          // re-partitions the pairs for its window, so it takes the range
          // path.)
          else if (bucketedOnKey && !dupKeys) merged
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
        st.writeDataFiles(out.sortWithinPartitions(keyC: _*), commitUuid, maxRecordsPerFile = rollRecords)
      })
    }
    } finally {
      // release the job label (a stale description would mislabel every
      // later job in the session's UI)
      spark.sparkContext.setJobDescription(null)
    }
  }

  /** What a merge's clauses look like: the table, the keys, the semantics,
    * the clause list, and the target columns the clauses may read. */
  private final case class Shape(
      schema: StructType,
      keyCols: Seq[String],
      versionCol: String,
      latestWins: Boolean,
      clauses: Seq[Clause],
      targetCols: Seq[String],
      resolver: (String, String) => Boolean)

  /** Refuse assignments to unknown columns and updates of key columns. */
  private def checkAssignments(c: Clause, cols: Seq[String], keyCols: Seq[String]): Unit = {
    val bySource = c.isInstanceOf[WhenNotMatchedBySource]
    val assigned = c.action match {
      case Update(set) => set.keys
      case Insert(values) => values.keys
      case Delete => Nil
    }
    for (k <- assigned) {
      require(cols.contains(k),
        if (bySource) s"NOT MATCHED BY SOURCE assigns unknown column $k"
        else s"MERGE action assigns unknown column $k")
      if (keyCols.contains(k) && !c.isInstanceOf[WhenNotMatched])
        throw new IllegalArgumentException(
          if (bySource) s"NOT MATCHED BY SOURCE must not assign key column $k"
          else s"MERGE UPDATE must not assign key column $k (rewrite the row via DELETE + INSERT)")
    }
  }

  /** The clause list of a CDC source: a `_deleted` row deletes its matched
    * target row, any other row updates it (every column from the source)
    * or inserts; under latest-wins a matched change applies only when it is
    * at least as new as the target row. A source may omit table columns:
    * they read as typed NULLs. */
  private def cdcClauses(schema: StructType, srcCols: Seq[String], versionCol: String,
      latestWins: Boolean, resolver: (String, String) => Boolean): Seq[Clause] = {
    val row = schema.fields.map(f => f.name ->
      (if (srcCols.exists(resolver(_, f.name))) sc(f.name) else lit(null).cast(f.dataType))).toMap
    val deleted = coalesce(sc("_deleted"), lit(false))
    val newer = if (latestWins) Some(sc(versionCol) >= tc(versionCol)) else None
    Seq(WhenMatched(Delete, Some(newer.fold(deleted)(_ && deleted))),
      WhenMatched(Update(row), newer),
      WhenNotMatched(Insert(row), Some(!deleted)))
  }

  /** The rows of `src` some MATCHED or NOT MATCHED clause may fire for,
    * when the source alone decides it: every such clause has a condition,
    * and together they are deterministic over `s.` columns only. A row no
    * clause can fire for changes nothing, so it need not widen the rewrite;
    * it still joins, so its target row stays matched by source. */
  private def mayFire(sh: Shape, src: DataFrame): Option[DataFrame] = {
    val conds = sh.clauses.collect { case c: WhenMatched => c.cond; case c: WhenNotMatched => c.cond }
    if (conds.contains(None)) return None
    val any = conds.flatten.reduceOption(_ || _).getOrElse(lit(false))
    val sourceOnly = !Shims.expression(any).exists {
      case a: UnresolvedAttribute => a.nameParts.size < 2 || a.nameParts.head != "s"
      case _: UnresolvedStar => true
      case _ => false
    }
    if (!sourceOnly) None
    else scala.util.Try(src.alias("s").filter(any)).toOption.filter(_.queryExecution.analyzed match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.deterministic
      case _ => false
    })
  }

  /** Column `c` of the target (`t`) or source (`s`) side of a pair. */
  private def tc(c: String): Column = col(s"t.`${c.replace("`", "``")}`")
  private def sc(c: String): Column = col(s"s.`${c.replace("`", "``")}`")
  private def tPresent: Column = coalesce(tc("_t_present"), lit(false))

  /** A NOT MATCHED BY SOURCE condition over the bare table columns (its
    * `t.` qualifiers dropped), so file statistics can prune by it. */
  private def unqualified(c: Column): Column =
    Shims.column(Shims.expression(c).transformUp {
      case a: UnresolvedAttribute if a.nameParts.size > 1 && a.nameParts.head == "t" =>
        UnresolvedAttribute(a.nameParts.tail)
    })

  /** The pair column holding the index of the clause that fired (-1: none). */
  private val Fired = "_merge_clause"

  /** The clause matrix of a merge over one (target, source) pair: `fired`,
    * the first clause in list order whose kind and condition hold (a column
    * of the pair relation named [[Fired]]); which target rows stay in a
    * rewrite (`keep`); which leave their file as a DV entry (`dvRow`);
    * which pairs append an image (`writeRow`); and the image itself, one
    * column per table column. The rest read [[Fired]]. */
  private final case class Matrix(fired: Column, keep: Column, dvRow: Column, writeRow: Column,
      image: Seq[Column])

  /** [[Matrix]] over a pair relation whose `t.<col>`/`s.<col>` name the
    * target/source columns, with `_t_present`/`_s_present` saying which
    * sides exist. The join plan evaluates it over the `t`/`s`-aliased join
    * and the driver plan over a local relation of two struct columns `t`
    * and `s`, so both plans share every clause's semantics. Values evaluate
    * only for the pairs their clause fires for (lazy CASE branches): an
    * ANSI-throwing value must not abort the merge through other rows. */
  private def matrix(sh: Shape): Matrix = {
    val tP = tPresent
    val sP = coalesce(sc("_s_present"), lit(false))
    val cl = sh.clauses.zipWithIndex
    val fired = cl.map { case (c, i) =>
      val scope = c match {
        case _: WhenMatched => tP && sP
        case _: WhenNotMatched => sP && !tP
        case _: WhenNotMatchedBySource => tP && !sP
      }
      (c.cond.fold(scope)(scope && _), i)
    }.foldLeft(None: Option[Column]) { case (acc, (fires, i)) =>
      Some(acc.fold(when(fires, lit(i)))(_.when(fires, lit(i))))
    }.fold(lit(-1))(_.otherwise(lit(-1)))
    val f = col(Fired)
    val image = sh.schema.fields.toSeq.map { fld =>
      def value(v: Column): Column = fld.dataType match {
        case _: StructType | _: ArrayType | _: MapType => v
        case dt => v.cast(dt)
      }
      val branches = cl.flatMap { case (c, i) =>
        c.action match {
          case Update(set) => set.get(fld.name).map(v => i -> value(v))
          case Insert(values) => Some(i -> values.get(fld.name).fold(lit(null).cast(fld.dataType))(value))
          case Delete => None
        }
      }
      (branches match {
        case Seq() => tc(fld.name)
        case (i, v) +: rest =>
          rest.foldLeft(when(f === i, v)) { case (acc, (j, w)) => acc.when(f === j, w) }
            .otherwise(tc(fld.name))
      }).as(fld.name)
    }
    // a target row leaves its file iff a clause fires for it (update OR
    // delete); an image is written for updates and inserts
    val deleted = cl.collect { case (c, i) if c.action == Delete => i } match {
      case Seq() => lit(false)
      case is => f.isin(is: _*)
    }
    Matrix(fired,
      keep = (tP && !deleted) || (!tP && f >= 0),
      dvRow = tP && f >= 0,
      writeRow = f >= 0 && !deleted,
      image = image)
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

  /** Whether a merge of the normalized source `src` collects it for a
    * driver plan ([[DriverSource]]): the optimizer's size estimate of
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

  /** A tuple of `r`'s values at `idx`; None when one is NULL (a NULL key
    * never matches). Key tuples compare as JVM values: the driver plans
    * admit only key types whose JVM equality is Spark's, and equal source
    * and target types (so equal decimal scales). */
  private def keyOf(r: Row, idx: Seq[Int]): Option[Seq[Any]] = Some(idx.map(r.get)).filterNot(_.contains(null))

  /** The normalized source of a driver-planned merge, collected once (one
    * partition satisfies the latest-wins version window's distribution: it
    * runs without an exchange), the distinct non-NULL key tuples of the
    * rows a clause may fire for ([[mayFire]], over the collected rows: no
    * job), and the files they touch, probed on the driver. */
  private final class DriverSource(st: TableState, sh: Shape, given: DataFrame) {
    import scala.jdk.CollectionConverters._
    private val spark = st.table.spark
    private val df = if (sh.latestWins) latestPerKey(given.coalesce(1), sh) else given
    val rows: Seq[Row] = df.collect().toSeq
    val schema: StructType = df.schema
    val keyIdx: Seq[Int] = sh.keyCols.map(k => schema.fieldNames.indexWhere(sh.resolver(_, k)))
    val keys: Seq[Seq[Any]] =
      mayFire(sh, frame).fold(rows)(_.collect().toSeq).flatMap(keyOf(_, keyIdx)).distinct
    val touched: Seq[DataFileMeta] = touchedFiles(st, spark.createDataFrame(keys.map(Row.fromSeq).asJava,
      StructType(sh.keyCols.zip(keyIdx).map { case (k, i) => schema(i).copy(name = k) })), sh.keyCols)
    /** The collected rows as a local frame. */
    def frame: DataFrame = spark.createDataFrame(rows.asJava, schema)
  }

  /** The changes of a driver-planned merge: every source row paired with
    * the `matched` target rows of its key tuple (the columns the clauses
    * read, keys first, then `_gdv_rel`/`_gdv_idx`), or with none — the
    * pairs the full-outer join would emit minus unmatched target rows, on
    * which no clause acts without NOT MATCHED BY SOURCE. [[matrix]]
    * evaluates over a local relation of the pairs: a `t` struct of the
    * table columns (those not read NULL), presence and position, NULL for
    * no target row, and an `s` struct of the source row and presence. The
    * optimizer folds the Filter and Project over the LocalRelation, so no
    * job runs. Returns the positions of the target rows a clause fired for,
    * after the ANSI cardinality check, and the images to write. */
  private def driverChanges(st: TableState, sh: Shape, ds: DriverSource,
      matched: Map[Seq[Any], Seq[Row]]): (Seq[(String, Long)], Seq[Row]) = {
    import scala.jdk.CollectionConverters._
    val schema = st.schema
    val n = schema.size
    val tType = StructType((schema.fields ++ Seq(StructField("_t_present", BooleanType),
      StructField("_gdv_rel", StringType), StructField("_gdv_idx", LongType))).map(_.copy(nullable = true)))
    val sType = StructType((ds.schema.fields :+ StructField("_s_present", BooleanType))
      .map(_.copy(nullable = true)))
    val tSlots = sh.targetCols.map(schema.fieldIndex) ++ Seq(n + 1, n + 2)
    def targetSide(r: Row): Row = {
      val out = new Array[Any](tType.size)
      tSlots.zipWithIndex.foreach { case (slot, j) => out(slot) = r.get(j) }
      out(n) = true
      Row.fromSeq(out.toSeq)
    }
    val pairRows = ds.rows.flatMap { r =>
      val s = Row.fromSeq(r.toSeq :+ true)
      keyOf(r, ds.keyIdx).flatMap(matched.get).fold(Seq(Row(null, s)))(_.map(t => Row(targetSide(t), s)))
    }
    val m = matrix(sh)
    val rows = st.table.spark.createDataFrame(pairRows.asJava,
        StructType(Seq(StructField("t", tType), StructField("s", sType))))
      .withColumn(Fired, m.fired)
      .filter(m.dvRow || m.writeRow)
      .select(m.image ++ Seq(tc("_gdv_rel"), tc("_gdv_idx"), m.dvRow.as("_dv"), m.writeRow.as("_wr")): _*)
      .collect()
    def flag(r: Row, i: Int): Boolean = !r.isNullAt(i) && r.getBoolean(i)
    val dvRows = rows.filter(flag(_, n + 2))
    // ANSI cardinality: a target row (file, position) changed by two pairs
    dvRows.groupBy(r => (r.getString(n), r.getLong(n + 1))).collectFirst {
      case (_, rs) if rs.length > 1 => sh.keyCols.map(k => rs.head.get(schema.fieldIndex(k)))
    }.foreach(k => throw duplicateKeyError(k))
    (dvRows.toSeq.map(r => (r.getString(n), r.getLong(n + 1))),
      rows.toSeq.filter(flag(_, n + 3)).map(r => Row.fromSeq(r.toSeq.take(n))))
  }

  /**
   * The merge-on-read merge of a small source, planned on the driver in at
   * most two Spark jobs: collect the normalized source ([[DriverSource]]);
   * scan the touched files once for the live rows whose keys the source
   * names. Everything else runs on the driver with no job: the probe, the
   * pairing and the clause matrix ([[driverChanges]]), the DV bitmaps, and
   * the image write ([[TableState.writeRows]]).
   */
  private def mergeOnReadOnDriver(st: TableState, sh: Shape, ds: DriverSource, runId: String,
      log: graft.table.StepLog, t0: Long, propertyUpdates: Map[String, String]): Snapshot = {
    val keyCols = sh.keyCols
    // the matched target rows, grouped by key tuple: the columns the clauses
    // read (keys first) and the position
    val matched: Map[Seq[Any], Seq[Row]] =
      if (ds.touched.isEmpty || ds.keys.isEmpty) Map.empty
      else {
        // one IN set per key column: a superset of the key tuples, pushed
        // into the scan; the pairing matches whole tuples
        val inKeys = keyCols.indices.map(j => col(keyCols(j)).isInCollection(ds.keys.map(_(j)).distinct))
          .reduce(_ && _)
        st.withPositionDeletesKeepingPos(targetScan(st, ds.touched, keyCols), ds.touched)
          .filter(inKeys).select((sh.targetCols ++ Seq("_gdv_rel", "_gdv_idx")).map(col): _*)
          .collect().toSeq.groupBy(r => keyOf(r, keyCols.indices))
          .collect { case (Some(k), rs) => k -> rs }
      }
    val (positions, images) = driverChanges(st, sh, ds, matched)
    commitMergePos(st, runId, log, ds.touched, DeletionVectors.of(positions.iterator),
      Option.when(images.nonEmpty)(st.writeRows(images, keyCols, _)), "driver", t0, propertyUpdates)
  }

  /**
   * The copy-on-write merge of a small source into an unpartitioned table
   * whose touched files are within `spark.sql.autoBroadcastJoinThreshold`
   * bytes, planned on the driver in two Spark jobs: collect the normalized
   * source ([[DriverSource]]); collect the touched files' live rows with
   * their positions. On the driver: the probe, the pairing and the clause
   * matrix ([[driverChanges]]); the output is the live rows no clause fired
   * for (once each, however many source rows share their key), plus the
   * images, written by [[TableState.writeRows]] sorted by key, rolled into
   * as many files as `targetFileBytes` asks for.
   */
  private def copyOnWriteOnDriver(st: TableState, sh: Shape, ds: DriverSource, targetFileBytes: Long,
      runId: String, log: graft.table.StepLog, t0: Long, propertyUpdates: Map[String, String]): Snapshot = {
    val schema = st.schema
    val n = schema.size
    val live: Seq[Row] =
      if (ds.touched.isEmpty) Seq.empty
      else st.withPositionDeletesKeepingPos(targetScan(st, ds.touched, sh.keyCols), ds.touched)
        .select((schema.fieldNames.toSeq ++ Seq("_gdv_rel", "_gdv_idx")).map(col): _*).collect().toSeq
    val keyIdx = sh.keyCols.map(schema.fieldIndex)
    val tIdx = sh.targetCols.map(schema.fieldIndex) ++ Seq(n, n + 1)
    val named = ds.keys.toSet
    val matched = live.flatMap(r => keyOf(r, keyIdx).filter(named).map(_ -> Row.fromSeq(tIdx.map(r.get))))
      .groupMap(_._1)(_._2)
    val (positions, images) = driverChanges(st, sh, ds, matched)
    val changed = positions.toSet
    val out = live.filterNot(r => changed((r.getString(n), r.getLong(n + 1))))
      .map(r => Row.fromSeq(r.toSeq.take(n))) ++ images
    val nOut = math.max(1, math.ceil(ds.touched.map(_.bytes).sum.toDouble / targetFileBytes).toInt)
    val rollRecords = if (nOut <= 1) 0L else math.ceil(out.size.toDouble / nOut).toLong
    RowLevel.rewrite(st, "merge", runId, ds.touched, mergeSummary(runId, ds.touched, "driver"), t0, Some(log),
        propertyUpdates) { commitUuid =>
      staged(st, log, commitUuid)(st.writeRows(out, sh.keyCols, commitUuid, rollRecords))
    }
  }

  /** The summary of a copy-on-write merge commit. */
  private def mergeSummary(runId: String, touched: Seq[DataFileMeta], plan: String): Map[String, String] =
    Map("run-id" -> runId, "touched-files" -> touched.size.toString, "merge-plan" -> plan)

  /** A copy-on-write merge's output under `commitUuid`: read back from its
    * footers when an earlier, crashed attempt staged it completely (the
    * step log says `rewrite` and the dir holds `_SUCCESS`), else what
    * `write` stages, then marked in the step log. */
  private def staged(st: TableState, log: graft.table.StepLog, commitUuid: String)(
      write: => Seq[DataFileMeta]): Seq[DataFileMeta] = {
    val dir = s"${st.table.dataDir}/$commitUuid"
    if (log.doneSteps.contains("rewrite") && graft.table.FileIO.exists(s"$dir/_SUCCESS"))
      graft.table.StatsCollector.collect(st.table.spark, st.schema, st.table.root,
        graft.table.FileIO.listFilesRecursively(dir, ".parquet"), commitUuid)
    else {
      graft.table.FileIO.deleteRecursively(dir)
      val metas = write
      Maintenance.markDone(st.table, log, "rewrite")
      metas
    }
  }

  /** Both merge-on-read plans commit here, one `merge-pos` commit of the
    * changed rows' DV `bitmaps` and the images `write` stages (None: none);
    * `merge-plan` names the plan. */
  private def commitMergePos(st: TableState, runId: String, log: graft.table.StepLog,
      touched: Seq[DataFileMeta], bitmaps: DeletionVectors.Bitmaps, write: Option[String => Seq[DataFileMeta]],
      plan: String, t0: Long, propertyUpdates: Map[String, String]): Snapshot =
    RowLevel.mergeOnRead(st, "merge-pos", runId, touched, bitmaps, write, t0,
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
