package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{coalesce, col, count, lit, when}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.LongType

import graft.ops.Merge
import graft.table.GraftTable

/**
 * SQL `MERGE INTO` surface for graft tables — the reference's merge is
 * user-facing SQL (it GENERATES executable HiveQL merge scripts,
 * `hive/HiveTableIR.java:234-302`); this gives the engine the same front
 * door through Spark's own parser:
 *
 * {{{
 *   MERGE INTO graft.`/path/to/table` t
 *   USING changes s
 *   ON t.host = s.host AND t.url = s.url          -- composite keys supported
 *   WHEN MATCHED AND s.op = 'D' THEN DELETE
 *   WHEN MATCHED AND s.op = 'T' THEN UPDATE SET text = s.text
 *   WHEN MATCHED THEN UPDATE SET lang = s.lang    -- or UPDATE SET *
 *   WHEN NOT MATCHED AND s.op != 'D' THEN INSERT (url, host, text) VALUES (s.url, s.host, s.text)
 *   WHEN NOT MATCHED BY SOURCE AND t.lang = 'xx' THEN DELETE
 * }}}
 *
 * The rule runs in the analyzer's EARLY (hint-resolution) batch: it must
 * intercept Catalyst's `MergeIntoTable` before the main resolution batch,
 * whose ResolveSQLOnFile rule would otherwise reject `graft.`-qualified
 * identifiers (the engine registers DataSource short name "graft", which
 * that rule treats as an unsupported direct file query). The source
 * subtree is carried UNRESOLVED and analyzed when the command runs. The
 * conversion rewrites the statement into a runnable command planning through
 * [[graft.ops.Merge.into]] — same touched-file pruning, same sort-merge
 * join, same copy-on-write commit as the programmatic API, with ANSI
 * matched-rows-always-apply semantics (`latestWins = false`).
 *
 * Supported shapes (anything else fails analysis with a clear error):
 *   - ON: a conjunction of equi-conditions `t.k1 = s.k1 AND … AND t.kn = s.kn`
 *     (the reference's all-rowkey-component join, `hive/HiveTableIR.java:311-315`);
 *     when both sides are qualified, one qualifier must be the target alias
 *     and the other the source alias
 *   - ANY number of matched clauses (`UPDATE SET *`, `UPDATE SET c = expr, …`,
 *     `DELETE`), each optionally conditional, applied FIRST-MATCH-WINS in
 *     statement order (Spark's parser enforces that an unconditional clause
 *     is last)
 *   - ANY number of `WHEN NOT MATCHED THEN INSERT` clauses (`INSERT *` or
 *     `INSERT (cols) VALUES (…)`), first-match-wins per unmatched source
 *     row, applied regardless of matched-clause conditions (ANSI), which is
 *     why the command computes an explicit per-row matched flag below
 *   - up to one `WHEN NOT MATCHED BY SOURCE THEN DELETE` AND one `… THEN
 *     UPDATE SET c = expr` clause, each optionally conditional, first-match-
 *     wins in statement order; conditions and values reference TARGET
 *     columns only (they evaluate on target rows with no source match).
 *     Unconditional forms rewrite the whole table — inherent to the
 *     semantics; conditional forms prune files by the condition.
 *   - MATCHED clause conditions and UPDATE SET values may reference BOTH
 *     relations (`WHEN MATCHED AND t.warc_ts < s.warc_ts THEN UPDATE SET
 *     c = t.c + s.c`): `t.`-qualified references lower onto reserved
 *     `_tgt_<col>` passthrough columns joined in from the touched files —
 *     which requires UNIQUE target keys among matched rows (duplicate
 *     target key tuples fail loudly: one source row's precomputed images
 *     cannot carry two different target rows' values). INSERT clause
 *     conditions/values stay source-only (the target row does not exist).
 *     An UNQUALIFIED reference whose name is also a target column fails as
 *     ambiguous — qualify with an alias.
 */
case class GraftMergeRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case m: MergeIntoTable if graftPath(m.targetTable).isDefined =>
      convert(m, graftPath(m.targetTable).get)
  }

  private def graftPath(target: LogicalPlan): Option[String] = target match {
    case SubqueryAlias(_, child) => graftPath(child)
    case u: UnresolvedRelation
        if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some(u.multipartIdentifier(1))
    case _ => None
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft MERGE INTO: $msg")

  /** Identifier equality via the session resolver (case-insensitive by
    * default, like Spark's own alias resolution). */
  private def sameId(a: String, b: String): Boolean =
    session.sessionState.analyzer.resolver(a, b)

  /** ON clause → ordered key column names (conjunction of equi-conditions).
    * Qualifier sanity: `t.k = t.k` / `s.k = s.k` compares one relation to
    * itself and silently matches every row pair — rejected. */
  private def keyColsOf(cond: Expression,
      targetAlias: Option[String], sourceAlias: Option[String]): Seq[String] = cond match {
    case And(l, r) =>
      keyColsOf(l, targetAlias, sourceAlias) ++ keyColsOf(r, targetAlias, sourceAlias)
    case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
        if sameId(a.nameParts.last, b.nameParts.last) =>
      val qa = if (a.nameParts.length > 1) Some(a.nameParts.head) else None
      val qb = if (b.nameParts.length > 1) Some(b.nameParts.head) else None
      for (x <- qa; y <- qb if sameId(x, y))
        fail(s"ON condition ${a.name} = ${b.name} compares one relation to itself; " +
          "join the target to the source (t.<k> = s.<k>)")
      for (ta <- targetAlias; sa <- sourceAlias; x <- qa; y <- qb)
        if (!((sameId(x, ta) && sameId(y, sa)) || (sameId(x, sa) && sameId(y, ta))))
          fail(s"ON condition ${a.name} = ${b.name} must join the target alias '$ta' " +
            s"to the source alias '$sa'")
      Seq(a.nameParts.last)
    case other =>
      fail(s"ON must be a conjunction of equi-conditions t.<k> = s.<k>, got $other")
  }

  private def convert(m: MergeIntoTable, path: String): LogicalPlan = {
    val targetAlias = m.targetTable match {
      case SubqueryAlias(ident, _) => Some(ident.name)
      case _ => None
    }
    val sourceAlias = m.sourceTable match {
      case SubqueryAlias(ident, _) => Some(ident.name)
      case _ => None
    }
    // target schema: key canonicalization + ambiguity detection on
    // unqualified references — membership follows the session resolver
    // (case-insensitive by default)
    val targetFields = GraftTable.load(session, path).schema.fieldNames.toSeq
    val resolver = session.sessionState.analyzer.resolver

    // canonicalize each ON key to the TARGET schema's spelling (t.URL =
    // s.url must plan as the table's `url`, like Spark's own resolution)
    val keyCols = keyColsOf(m.mergeCondition, targetAlias, sourceAlias).map { raw =>
      targetFields.find(resolver(_, raw)).getOrElse(
        fail(s"ON references unknown target column $raw"))
    }
    if (keyCols.distinct.size != keyCols.size)
      fail(s"duplicate key column in ON clause: ${keyCols.mkString(", ")}")

    // every carried expression evaluates on the SOURCE rows before the merge
    // join — a target-side reference would silently rebind to the same-named
    // SOURCE column after qualifier stripping, deciding on the wrong relation
    def sourceOnly(e: Expression, what: String): ExprHolder = {
      for (a <- e.collect { case a: UnresolvedAttribute => a }) {
        if (a.nameParts.length > 1 && targetAlias.exists(sameId(_, a.nameParts.head)))
          fail(s"$what may reference SOURCE columns only, got target-side ${a.name} " +
            "(it is evaluated on the change rows before the merge join)")
        if (a.nameParts.length == 1 && targetFields.exists(resolver(_, a.nameParts.head)))
          fail(s"$what: unqualified reference ${a.name} is ambiguous — a target column " +
            "of that name exists but the clause evaluates on SOURCE rows; qualify " +
            "with the source alias")
      }
      ExprHolder(e.transformUp {
        case a: UnresolvedAttribute => UnresolvedAttribute(Seq(a.nameParts.last))
      })
    }
    // MATCHED clause conditions and UPDATE SET values MAY reference target
    // columns (ANSI: `WHEN MATCHED AND t.warc_ts < s.warc_ts THEN UPDATE
    // SET c = t.c + s.c`) — `t.`-qualified refs lower onto reserved
    // `_tgt_<col>` passthrough columns the command joins in from the
    // touched files before evaluation. Unqualified refs shadowed by a
    // target column still fail as ambiguous (qualify to disambiguate).
    val tgtCols = scala.collection.mutable.LinkedHashSet.empty[String]
    def matchedExpr(e: Expression, what: String): ExprHolder = {
      for (a <- e.collect { case a: UnresolvedAttribute => a })
        if (a.nameParts.length == 1 && targetFields.exists(resolver(_, a.nameParts.head)))
          fail(s"$what: unqualified reference ${a.name} is ambiguous — a target column " +
            "of that name exists; qualify with the source or target alias")
      ExprHolder(e.transformUp {
        case a: UnresolvedAttribute
            if a.nameParts.length > 1 && targetAlias.exists(sameId(_, a.nameParts.head)) =>
          val c = targetFields.find(resolver(_, a.nameParts.last)).getOrElse(
            fail(s"$what references unknown target column ${a.name}"))
          tgtCols += c
          UnresolvedAttribute(Seq(s"_tgt_$c"))
        case a: UnresolvedAttribute => UnresolvedAttribute(Seq(a.nameParts.last))
      })
    }
    // assignment targets canonicalize to the TARGET schema's spelling (like
    // the ON keys): SET URL = … must plan as the table's `url`, or the
    // exact-case checks downstream spuriously reject what Spark's own
    // resolution accepts
    def canonical(raw: String): String =
      targetFields.find(resolver(_, raw)).getOrElse(raw) // unknowns fail later, clearly
    def assignments(asg: Seq[Assignment], what: String,
        exprFn: (Expression, String) => ExprHolder): Seq[(String, ExprHolder)] =
      asg.map { a =>
        val name = a.key match {
          case u: UnresolvedAttribute =>
            if (u.nameParts.length > 1 && !targetAlias.forall(sameId(_, u.nameParts.head)))
              fail(s"$what assigns non-target column ${u.name}")
            canonical(u.nameParts.last)
          case other => fail(s"$what must assign plain columns, got $other")
        }
        name -> exprFn(a.value, s"$what value for $name")
      }

    // matched clauses in statement order (ANSI first-match-wins; Spark's
    // parser already enforces that an unconditional clause is last).
    // Conditions and SET values may reference BOTH relations (matchedExpr).
    val matched: Seq[MatchedClause] = m.matchedActions.map {
      case UpdateStarAction(c) =>
        MatchedClause(isDelete = false, c.map(matchedExpr(_, "UPDATE condition")),
          Seq.empty, star = true)
      case UpdateAction(c, asg, _) =>
        val set = assignments(asg, "UPDATE SET", matchedExpr)
        if (set.isEmpty) fail("UPDATE with no assignments")
        set.map(_._1).filter(n => keyCols.exists(sameId(n, _))).foreach(k =>
          fail(s"UPDATE must not assign key column $k"))
        MatchedClause(isDelete = false, c.map(matchedExpr(_, "UPDATE condition")), set, star = false)
      case DeleteAction(c) =>
        MatchedClause(isDelete = true, c.map(matchedExpr(_, "DELETE condition")), Seq.empty, star = false)
      case other => fail(s"unsupported matched action $other")
    }
    // defensive unreachable-clause guard behind the parser's rule
    matched.dropRight(1).filter(_.cond.isEmpty).foreach(_ =>
      fail("an unconditional matched clause must be last (later clauses are unreachable)"))

    // NOT MATCHED BY SOURCE: acts on target rows absent from the source;
    // conditions/assignments evaluate on TARGET columns (before the join)
    def targetOnly(e: Expression, what: String): ExprHolder = {
      for (a <- e.collect { case a: UnresolvedAttribute => a })
        if (a.nameParts.length > 1 && sourceAlias.exists(sameId(_, a.nameParts.head)))
          fail(s"$what may reference TARGET columns only, got source-side ${a.name} " +
            "(it is evaluated on target rows that have NO source match)")
      ExprHolder(e.transformUp {
        case a: UnresolvedAttribute => UnresolvedAttribute(Seq(a.nameParts.last))
      })
    }
    var nmbsDelete = false
    var nmbsDeleteCond: Option[ExprHolder] = None
    var nmbsUpdate = Seq.empty[(String, ExprHolder)]
    var nmbsUpdateCond: Option[ExprHolder] = None
    var hasNmbsUpdate = false
    var nmbsDeleteFirst = true
    m.notMatchedBySourceActions.foreach { a =>
      a match {
        case DeleteAction(c) =>
          if (nmbsDelete) fail("at most one NOT MATCHED BY SOURCE DELETE clause")
          nmbsDelete = true
          nmbsDeleteFirst = !hasNmbsUpdate
          nmbsDeleteCond = c.map(targetOnly(_, "NOT MATCHED BY SOURCE DELETE condition"))
        case UpdateAction(c, asg, _) =>
          if (hasNmbsUpdate) fail("at most one NOT MATCHED BY SOURCE UPDATE clause")
          hasNmbsUpdate = true
          nmbsUpdateCond = c.map(targetOnly(_, "NOT MATCHED BY SOURCE UPDATE condition"))
          nmbsUpdate = asg.map { x =>
            val name = x.key match {
              case u: UnresolvedAttribute => canonical(u.nameParts.last)
              case other => fail(s"NOT MATCHED BY SOURCE UPDATE must assign plain columns, got $other")
            }
            if (keyCols.exists(sameId(name, _))) fail(s"UPDATE must not assign key column $name")
            name -> targetOnly(x.value, s"NOT MATCHED BY SOURCE UPDATE value for $name")
          }
          if (nmbsUpdate.isEmpty) fail("NOT MATCHED BY SOURCE UPDATE needs explicit assignments")
        case other => fail(s"unsupported NOT MATCHED BY SOURCE action $other")
      }
    }
    // unreachable-clause guard: an unconditional first clause swallows all
    m.notMatchedBySourceActions.map {
      case DeleteAction(c) => c; case UpdateAction(c, _, _) => c; case _ => None
    }.dropRight(1).filter(_.isEmpty).foreach(_ =>
      fail("an unconditional NOT MATCHED BY SOURCE clause must be last"))

    // insert clauses in statement order (first-match-wins per unmatched row)
    val inserts: Seq[InsertClause] = m.notMatchedActions.map {
      case InsertStarAction(c) =>
        InsertClause(c.map(sourceOnly(_, "INSERT condition")), Seq.empty, star = true)
      case InsertAction(c, asg) =>
        val vals = assignments(asg, "INSERT", sourceOnly)
        keyCols.filterNot(k => vals.map(_._1).exists(sameId(k, _))).foreach(k =>
          fail(s"INSERT (cols) VALUES must assign key column $k"))
        InsertClause(c.map(sourceOnly(_, "INSERT condition")), vals, star = false)
      case other => fail(s"unsupported not-matched action $other")
    }
    inserts.dropRight(1).filter(_.cond.isEmpty).foreach(_ =>
      fail("an unconditional INSERT clause must be last (later clauses are unreachable)"))

    if (matched.isEmpty && inserts.isEmpty && !nmbsDelete && !hasNmbsUpdate)
      fail("no supported action")

    GraftMergeCommand(path, m.sourceTable, keyCols,
      matched = matched,
      inserts = inserts,
      tgtCols = tgtCols.toSeq,
      nmbsDelete = nmbsDelete,
      nmbsDeleteCond = nmbsDeleteCond,
      hasNmbsUpdate = hasNmbsUpdate,
      nmbsUpdateCond = nmbsUpdateCond,
      nmbsUpdate = nmbsUpdate,
      nmbsDeleteFirst = nmbsDeleteFirst)
  }
}

/** Opaque wrapper keeping a deliberately-unresolved expression out of
  * `QueryPlan.expressions` — CheckAnalysis would otherwise reject the
  * command for carrying it (it resolves against the source at run time). */
case class ExprHolder(e: Expression)

/** One `WHEN MATCHED` clause in statement order. `star` = `UPDATE SET *`
  * (expanded to explicit per-column assignments at run time when several
  * clauses coexist). */
case class MatchedClause(
    isDelete: Boolean,
    cond: Option[ExprHolder],
    set: Seq[(String, ExprHolder)],
    star: Boolean)

/** One `WHEN NOT MATCHED THEN INSERT` clause in statement order. */
case class InsertClause(
    cond: Option[ExprHolder],
    values: Seq[(String, ExprHolder)],
    star: Boolean)

/** Runs [[graft.ops.Merge.into]] for a SQL MERGE statement; returns the
  * committed snapshot id as the statement result.
  *
  * Lowering: the source is augmented with a per-row `_matched` flag (a
  * left join against the DISTINCT key tuples read from the TOUCHED files
  * only — never a full-table scan); clause conditions become
  * first-match-wins fire flags evaluated matched-side only (ANSI: a NULL
  * clause condition is false, and matched-clause conditions never affect
  * unmatched rows); rows no clause applies to are filtered out; and
  * column-level assignments become `_set_*`/`_ins_*` image columns — plus
  * `_setw_*`/`_insw_*` per-row assignment masks when SEVERAL clauses of a
  * kind exist (the firing clause may not assign every imaged column) — for
  * [[graft.ops.Merge.into]]'s projection. */
case class GraftMergeCommand(
    path: String,
    source: LogicalPlan,
    keyCols: Seq[String],
    matched: Seq[MatchedClause],
    inserts: Seq[InsertClause],
    tgtCols: Seq[String] = Seq.empty,
    nmbsDelete: Boolean = false,
    nmbsDeleteCond: Option[ExprHolder] = None,
    hasNmbsUpdate: Boolean = false,
    nmbsUpdateCond: Option[ExprHolder] = None,
    nmbsUpdate: Seq[(String, ExprHolder)] = Seq.empty,
    nmbsDeleteFirst: Boolean = true) extends LeafRunnableCommand {

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] = Seq(source)
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = GraftTable.load(session, path)
    val st = table.state
    val schema = st.schema
    (matched.flatMap(_.set) ++ inserts.flatMap(_.values)).map(_._1)
      .filterNot(schema.fieldNames.contains).foreach(c =>
        throw new IllegalArgumentException(s"graft MERGE INTO: assignment to unknown column $c"))
    var src = Shims.dataFrame(session, source)
    // star actions take the WHOLE source row: a source missing schema
    // columns would silently write NULLs into them (Spark/Delta reject
    // this at analysis, and so do we)
    val starAction =
      (matched.exists(cl => !cl.isDelete && cl.star), inserts.exists(_.star)) match {
        case (true, _) => Some("UPDATE SET *")
        case (_, true) => Some("INSERT *")
        case _         => None
      }
    // column-name membership must follow the session resolver (Spark is
    // case-insensitive by default — an exact-match check would spuriously
    // reject SELECT 1 AS ID for target column id)
    val resolver = session.sessionState.analyzer.resolver
    for (star <- starAction; c <- schema.fieldNames if !src.columns.exists(resolver(_, c)))
      throw new IllegalArgumentException(
        s"graft MERGE INTO: $star requires the source to carry every table column; missing $c")
    // ANSI: a NULL clause condition behaves as FALSE
    def flag(h: Option[ExprHolder]): Column =
      h.map(x => coalesce(Shims.column(x.e).cast("boolean"), lit(false))).getOrElse(lit(true))

    // per-row matched flag: key tuples are read from the files whose bounds
    // can contain a source key (touched files) — bounded by the change set,
    // not the table (a delete-only MERGE at 100 TB must not scan the corpus).
    // Merge.into re-plans touched files on the clause-FILTERED source below:
    // deliberate — the second pass is a key-only source scan, and planning
    // on the narrower set can exclude whole table files from the rewrite,
    // which dominates the repeated scan at scale.
    val touched = Merge.touchedFiles(st, src.select(keyCols.map(col): _*), keyCols)
    // target columns referenced by matched clauses ride the same join as
    // `_matched`, renamed to reserved `_tgt_<col>` passthroughs. The
    // precomputed-per-source-row lowering needs ONE target row per key
    // tuple — duplicate target keys would silently apply one row's values
    // to all of them, so they fail loudly instead (rewrite the table or
    // drop the target references).
    for (c <- tgtCols) {
      if (!schema.fieldNames.contains(c))
        throw new IllegalArgumentException(s"graft MERGE INTO: unknown target column $c")
      if (src.columns.exists(resolver(_, s"_tgt_$c")))
        throw new IllegalArgumentException(
          s"graft MERGE INTO: source column _tgt_$c collides with the reserved " +
            "target-passthrough name; rename it")
    }
    src =
      if (touched.isEmpty) {
        val withTgt = tgtCols.foldLeft(src)((d, c) =>
          d.withColumn(s"_tgt_$c", lit(null).cast(schema(schema.fieldIndex(c)).dataType)))
        withTgt.withColumn("_matched", lit(false))
      } else {
        // position deletes applied: a DV-deleted target row must read as NOT
        // MATCHED here exactly like Merge.into's own scan (ops/Merge.scala
        // "position deletes applied" invariant) — a raw read would set
        // _matched=true from a dead row and break the INSERT clause for it
        val existingFull = st.readFiles(touched)
          .select((keyCols ++ tgtCols).distinct.map(col): _*)
        if (tgtCols.nonEmpty) {
          val dups = existingFull.groupBy(keyCols.map(col): _*)
            .agg(count(lit(1)).as("_cnt")).filter(col("_cnt") > 1)
          if (dups.count() > 0) {
            val ex = dups.select(keyCols.map(col): _*).limit(1).collect().head
            throw new IllegalArgumentException(
              s"graft MERGE INTO: matched clauses reference target columns " +
                s"(${tgtCols.mkString(", ")}), but the target has multiple rows for key " +
                s"'${ex.toSeq.mkString(",")}' — per-key target values are ambiguous")
          }
        }
        val existing = existingFull.dropDuplicates(keyCols)
          .select(keyCols.map(col) ++ tgtCols.map(c => col(c).as(s"_tgt_$c")): _*)
          .withColumn("_matched_t", lit(true))
        src.join(existing, keyCols, "left_outer")
          .withColumn("_matched", coalesce(col("_matched_t"), lit(false)))
          .drop("_matched_t")
      }

    // first-match-wins fire flags: clause i fires iff its condition holds
    // and no earlier clause's did
    def fires(flags: Seq[Column]): Seq[Column] =
      flags.zipWithIndex.map { case (f, i) =>
        flags.take(i).foldLeft(f)((acc, prev) => acc && !prev)
      }
    val mFires = fires(matched.map(cl => flag(cl.cond)))
    def orAll(cs: Seq[Column]): Column = cs.reduceOption(_ || _).getOrElse(lit(false))
    val delFlag = orAll(matched.zip(mFires).collect { case (cl, f) if cl.isDelete => f })
    val updFlag = orAll(matched.zip(mFires).collect { case (cl, f) if !cl.isDelete => f })
    val iFires = fires(inserts.map(cl => flag(cl.cond)))
    val insFlag = orAll(iFires)

    // column-level images. A SINGLE star clause keeps the full-row image
    // path (no `_set_`/`_ins_` columns — the source row IS the image);
    // otherwise stars expand to explicit per-column assignments and each
    // imaged column gets a first-match-wins value chain. Values evaluate
    // ONLY on rows their clause fires for (lazy If branches) — an
    // ANSI-throwing expression must not abort the merge via rows the
    // clause never applies to.
    val updClauses = matched.zip(mFires).filter(!_._1.isDelete)
    val emitSet = updClauses.nonEmpty && !(updClauses.size == 1 && updClauses.head._1.star)
    if (emitSet) {
      def setOf(cl: MatchedClause): Seq[(String, Column)] =
        if (cl.star) schema.fieldNames.filterNot(keyCols.contains).toSeq.map(c => c -> col(c))
        else cl.set.map { case (c, h) => c -> Shims.column(h.e) }
      val perCol = scala.collection.mutable.LinkedHashMap.empty[String, Vector[(Column, Column)]]
      for ((cl, f) <- updClauses; (c, v) <- setOf(cl))
        perCol(c) = perCol.getOrElse(c, Vector.empty) :+ (f, v)
      val needMask = updClauses.size > 1
      for ((c, cases) <- perCol) {
        val img = cases.tail.foldLeft(
          when(col("_matched") && cases.head._1, cases.head._2)) {
          case (acc, (f, v)) => acc.when(col("_matched") && f, v)
        }
        src = src.withColumn(s"_set_$c", img)
        if (needMask)
          src = src.withColumn(s"_setw_$c", col("_matched") && orAll(cases.map(_._1)))
      }
    }
    val emitIns = inserts.nonEmpty && !(inserts.size == 1 && inserts.head.star)
    if (emitIns) {
      def valsOf(cl: InsertClause): Seq[(String, Column)] =
        if (cl.star) schema.fieldNames.toSeq.map(c => c -> col(c))
        else cl.values.map { case (c, h) => c -> Shims.column(h.e) }
      val perCol = scala.collection.mutable.LinkedHashMap.empty[String, Vector[(Column, Column)]]
      for ((cl, f) <- inserts.zip(iFires); (c, v) <- valsOf(cl))
        perCol(c) = perCol.getOrElse(c, Vector.empty) :+ (f, v)
      val needMask = inserts.size > 1
      for ((c, cases) <- perCol) {
        val img = cases.tail.foldLeft(
          when(!col("_matched") && cases.head._1, cases.head._2)) {
          case (acc, (f, v)) => acc.when(!col("_matched") && f, v)
        }
        src = src.withColumn(s"_ins_$c", img)
        if (needMask)
          src = src.withColumn(s"_insw_$c", !col("_matched") && orAll(cases.map(_._1)))
      }
    }
    // keep only rows some clause applies to: matched rows a matched clause
    // fires for, unmatched rows an insert clause admits — everything else
    // must leave its target row (or absence) untouched. With a NOT MATCHED
    // BY SOURCE clause, matched rows no clause fires for must STAY in the
    // source as presence-only `_noop` rows: dropping them would make their
    // target rows look unmatched-by-source and get wrongly deleted/updated.
    val nmbs = nmbsDelete || hasNmbsUpdate
    val firing = src
      .filter((col("_matched") && (updFlag || delFlag)) ||
        (!col("_matched") && insFlag))
      .withColumn("_deleted", col("_matched") && delFlag)
      .withColumn("_noop", lit(false))
    src =
      if (!nmbs) firing.drop("_matched")
      else {
        // presence-only rows: deduped per key and dropped when the key also
        // has a firing row — ANSI cardinality errors only when a target row
        // is actually MODIFIED by more than one source row, and the
        // uniqueness check downstream must see exactly that
        val noopRows = src.filter(col("_matched") && !updFlag && !delFlag)
          .dropDuplicates(keyCols)
          .join(firing.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
          .withColumn("_deleted", lit(false))
          .withColumn("_noop", lit(true))
        firing.unionByName(noopRows).drop("_matched")
      }

    val nmbsDel: Option[Column] =
      if (!nmbsDelete) None
      else Some(nmbsDeleteCond.map(h => Shims.column(h.e)).getOrElse(lit(true)))
    val nmbsSet: Option[(Column, Map[String, Column])] =
      if (!hasNmbsUpdate) None
      else Some((
        nmbsUpdateCond.map(h => Shims.column(h.e)).getOrElse(lit(true)),
        nmbsUpdate.map { case (c, h) => c -> Shims.column(h.e) }.toMap))
    // write.merge.mode=merge-on-read (Iceberg's property): changed rows
    // land as DV entries + appended images instead of file rewrites
    val mode = st.metadata.properties
      .getOrElse("write.merge.mode", "copy-on-write")
    val snap = Merge.into(table, src, keyCols, latestWins = false,
      notMatchedBySourceDelete = nmbsDel, notMatchedBySourceSet = nmbsSet,
      notMatchedBySourceDeleteFirst = nmbsDeleteFirst,
      mode = if (mode == "merge-on-read") mode else "copy-on-write")
    Seq(Row(snap.id))
  }
}
