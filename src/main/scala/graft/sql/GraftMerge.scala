package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
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
 * conversion maps the statement's clauses, in order, onto
 * [[graft.ops.Merge.into]]'s clause list (ANSI semantics, `latestWins =
 * false`): the command is one `Merge.into` call.
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
 *     row, applied regardless of matched-clause conditions (ANSI)
 *   - ANY number of `WHEN NOT MATCHED BY SOURCE THEN DELETE` / `… THEN
 *     UPDATE SET c = expr` clauses, each optionally conditional, first-
 *     match-wins in statement order; conditions and values reference TARGET
 *     columns only (they evaluate on target rows with no source match).
 *     Unconditional forms rewrite the whole table — inherent to the
 *     semantics; conditional forms prune files by the condition.
 *   - MATCHED clause conditions and UPDATE SET values may reference BOTH
 *     relations (`WHEN MATCHED AND t.warc_ts < s.warc_ts THEN UPDATE SET
 *     c = t.c + s.c`): every target row reads its own values, so duplicate
 *     target keys are fine. INSERT clause conditions/values stay
 *     source-only (the target row does not exist). An UNQUALIFIED
 *     reference whose name is also a target column fails as ambiguous —
 *     qualify with an alias.
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

    // clause expressions name their side as Merge.into's `t.<col>` /
    // `s.<col>`: the target alias maps to `t`, anything else to `s`
    def isTarget(a: UnresolvedAttribute): Boolean =
      a.nameParts.length > 1 && targetAlias.exists(sameId(_, a.nameParts.head))
    def sides(e: Expression)(side: UnresolvedAttribute => String): Column =
      Shims.column(e.transformUp {
        case a: UnresolvedAttribute => UnresolvedAttribute(Seq(side(a), a.nameParts.last))
      })
    def shadowed(a: UnresolvedAttribute): Boolean =
      a.nameParts.length == 1 && targetFields.exists(resolver(_, a.nameParts.head))
    // INSERT clauses evaluate on SOURCE rows only (no target row exists) —
    // a target-side reference would decide on the wrong relation
    def sourceOnly(e: Expression, what: String): Column = {
      for (a <- e.collect { case a: UnresolvedAttribute => a }) {
        if (isTarget(a))
          fail(s"$what may reference SOURCE columns only, got target-side ${a.name} " +
            "(it is evaluated on the change rows before the merge join)")
        if (shadowed(a))
          fail(s"$what: unqualified reference ${a.name} is ambiguous — a target column " +
            "of that name exists but the clause evaluates on SOURCE rows; qualify " +
            "with the source alias")
      }
      sides(e)(_ => "s")
    }
    // MATCHED clause conditions and UPDATE SET values may reference BOTH
    // relations (ANSI: `WHEN MATCHED AND t.warc_ts < s.warc_ts THEN UPDATE
    // SET c = t.c + s.c`); each target row reads its own values. Unqualified
    // refs shadowed by a target column fail as ambiguous.
    def matchedExpr(e: Expression, what: String): Column = {
      for (a <- e.collect { case a: UnresolvedAttribute => a }) {
        if (shadowed(a))
          fail(s"$what: unqualified reference ${a.name} is ambiguous — a target column " +
            "of that name exists; qualify with the source or target alias")
        if (isTarget(a) && !targetFields.exists(resolver(_, a.nameParts.last)))
          fail(s"$what references unknown target column ${a.name}")
      }
      sides(e)(a => if (isTarget(a)) "t" else "s")
    }
    // NOT MATCHED BY SOURCE: acts on target rows absent from the source;
    // conditions/assignments evaluate on TARGET columns
    def targetOnly(e: Expression, what: String): Column = {
      for (a <- e.collect { case a: UnresolvedAttribute => a })
        if (a.nameParts.length > 1 && sourceAlias.exists(sameId(_, a.nameParts.head)))
          fail(s"$what may reference TARGET columns only, got source-side ${a.name} " +
            "(it is evaluated on target rows that have NO source match)")
      sides(e)(_ => "t")
    }
    // assignment targets canonicalize to the TARGET schema's spelling (like
    // the ON keys): SET URL = … must plan as the table's `url`, or the
    // exact-case checks downstream spuriously reject what Spark's own
    // resolution accepts
    def canonical(raw: String): String =
      targetFields.find(resolver(_, raw)).getOrElse(raw) // unknowns fail later, clearly
    def assignments(asg: Seq[Assignment], what: String,
        exprFn: (Expression, String) => Column): Map[String, Column] =
      asg.map { a =>
        val name = a.key match {
          case u: UnresolvedAttribute =>
            if (u.nameParts.length > 1 && !targetAlias.forall(sameId(_, u.nameParts.head)))
              fail(s"$what assigns non-target column ${u.name}")
            canonical(u.nameParts.last)
          case other => fail(s"$what must assign plain columns, got $other")
        }
        name -> exprFn(a.value, s"$what value for $name")
      }.toMap
    def noKeys(set: Map[String, Column]): Unit =
      set.keys.filter(n => keyCols.exists(sameId(n, _))).foreach(k =>
        fail(s"UPDATE must not assign key column $k"))
    // star actions take the source's same-named columns
    def fromSource(cs: Seq[String]): Map[String, Column] =
      cs.map(c => c -> sides(UnresolvedAttribute(Seq(c)))(_ => "s")).toMap

    // clauses in statement order: first-match-wins within each kind
    // (Spark's parser already enforces that an unconditional clause is last)
    val matched: Seq[Merge.Clause] = m.matchedActions.map {
      case UpdateStarAction(c) =>
        Merge.WhenMatched(Merge.Update(fromSource(targetFields.filterNot(keyCols.contains))),
          c.map(matchedExpr(_, "UPDATE condition")))
      case UpdateAction(c, asg, _) =>
        val set = assignments(asg, "UPDATE SET", matchedExpr)
        if (set.isEmpty) fail("UPDATE with no assignments")
        noKeys(set)
        Merge.WhenMatched(Merge.Update(set), c.map(matchedExpr(_, "UPDATE condition")))
      case DeleteAction(c) =>
        Merge.WhenMatched(Merge.Delete, c.map(matchedExpr(_, "DELETE condition")))
      case other => fail(s"unsupported matched action $other")
    }
    // defensive unreachable-clause guard behind the parser's rule
    matched.dropRight(1).filter(_.cond.isEmpty).foreach(_ =>
      fail("an unconditional matched clause must be last (later clauses are unreachable)"))

    val bySource: Seq[Merge.Clause] = m.notMatchedBySourceActions.map {
      case DeleteAction(c) =>
        Merge.WhenNotMatchedBySource(Merge.Delete,
          c.map(targetOnly(_, "NOT MATCHED BY SOURCE DELETE condition")))
      case UpdateAction(c, asg, _) =>
        val set = assignments(asg, "NOT MATCHED BY SOURCE UPDATE", targetOnly)
        if (set.isEmpty) fail("NOT MATCHED BY SOURCE UPDATE needs explicit assignments")
        noKeys(set)
        Merge.WhenNotMatchedBySource(Merge.Update(set),
          c.map(targetOnly(_, "NOT MATCHED BY SOURCE UPDATE condition")))
      case other => fail(s"unsupported NOT MATCHED BY SOURCE action $other")
    }
    // unreachable-clause guard: an unconditional first clause swallows all
    bySource.dropRight(1).filter(_.cond.isEmpty).foreach(_ =>
      fail("an unconditional NOT MATCHED BY SOURCE clause must be last"))

    val inserts: Seq[Merge.Clause] = m.notMatchedActions.map {
      case InsertStarAction(c) =>
        Merge.WhenNotMatched(Merge.Insert(fromSource(targetFields)),
          c.map(sourceOnly(_, "INSERT condition")))
      case InsertAction(c, asg) =>
        val vals = assignments(asg, "INSERT", sourceOnly)
        keyCols.filterNot(k => vals.keys.exists(sameId(k, _))).foreach(k =>
          fail(s"INSERT (cols) VALUES must assign key column $k"))
        Merge.WhenNotMatched(Merge.Insert(vals), c.map(sourceOnly(_, "INSERT condition")))
      case other => fail(s"unsupported not-matched action $other")
    }
    inserts.dropRight(1).filter(_.cond.isEmpty).foreach(_ =>
      fail("an unconditional INSERT clause must be last (later clauses are unreachable)"))

    if (matched.isEmpty && inserts.isEmpty && bySource.isEmpty)
      fail("no supported action")

    val star =
      if (m.matchedActions.exists(_.isInstanceOf[UpdateStarAction])) Some("UPDATE SET *")
      else if (m.notMatchedActions.exists(_.isInstanceOf[InsertStarAction])) Some("INSERT *")
      else None
    GraftMergeCommand(path, m.sourceTable, keyCols, matched ++ inserts ++ bySource, star)
  }
}

/** Opaque wrapper keeping a deliberately-unresolved expression out of
  * `QueryPlan.expressions` — CheckAnalysis would otherwise reject the
  * command for carrying it (it resolves against the source at run time). */
case class ExprHolder(e: Expression)

/** Runs [[graft.ops.Merge.into]] for a SQL MERGE statement's clause list
  * (whose Columns stay unresolved until the merge resolves them against
  * its `t`/`s` pairs); `star` names a star action, whose source must carry
  * every table column. Returns the committed snapshot id as the statement
  * result. */
case class GraftMergeCommand(
    path: String,
    source: LogicalPlan,
    keyCols: Seq[String],
    clauses: Seq[Merge.Clause],
    star: Option[String]) extends LeafRunnableCommand {

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] = Seq(source)
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = GraftTable.load(session, path)
    val st = table.state
    val schema = st.schema
    clauses.collect {
      case Merge.WhenMatched(Merge.Update(set), _) => set.keys
      case Merge.WhenNotMatched(Merge.Insert(values), _) => values.keys
    }.flatten.filterNot(schema.fieldNames.contains).foreach(c =>
      throw new IllegalArgumentException(s"graft MERGE INTO: assignment to unknown column $c"))
    val src = Shims.dataFrame(session, source)
    // star actions take the WHOLE source row: a source missing schema
    // columns would silently write NULLs into them (Spark/Delta reject
    // this at analysis, and so do we). Column-name membership follows the
    // session resolver (Spark is case-insensitive by default — an
    // exact-match check would spuriously reject SELECT 1 AS ID for target
    // column id)
    val resolver = session.sessionState.analyzer.resolver
    for (s <- star; c <- schema.fieldNames if !src.columns.exists(resolver(_, c)))
      throw new IllegalArgumentException(
        s"graft MERGE INTO: $s requires the source to carry every table column; missing $c")
    // write.merge.mode=merge-on-read (Iceberg's property): changed rows
    // land as DV entries + appended images instead of file rewrites
    val mode = st.metadata.properties.getOrElse("write.merge.mode", "copy-on-write")
    val snap = Merge.into(table, src, keyCols, latestWins = false, clauses = clauses,
      mode = if (mode == "merge-on-read") mode else "copy-on-write")
    Seq(Row(snap.id))
  }
}
