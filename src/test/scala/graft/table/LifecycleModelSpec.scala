package graft.table

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.{Cluster, Compact, Expire, Rebucket}
import graft.run.Synth

/**
 * Model-based lifecycle test: random interleavings of append / MoR-delete /
 * compact / full-cluster / expire must keep the engine's visible table equal
 * to a trivial in-memory model after every step (the north rule's
 * "post-maintenance scans identical", exercised across op interactions
 * instead of per-op). Seeded Random — scalacheck-style without the plugin.
 */
// top-level: Spark encoders cannot synthesize inner-class case classes
case class MRow(url: String, text: String)

class LifecycleModelSpec extends SparkSuite {

  test("random op sequences match the in-memory model") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)

    for (round <- 0 until 2) {
      // round 1 runs the whole random op mix against a BUCKETED table (and
      // an evolved schema): bucket stamping, the all-or-nothing scan gate,
      // the shuffle-free merge paths and bucket-dir touched-file pruning all
      // compose with every op while the visible state must stay model-equal
      val props =
        if (round == 1) Map(PartitionSpec.Property -> "bucket(4, url)")
        else Map.empty[String, String]
      val tbl = GraftTable.create(spark, tmpDir(s"model-$round"), Synth.pageSchema, props)
      val rows = mutable.Buffer.empty[MRow] // multiset of visible rows
      var nextBatch = 0
      // the text column's CURRENT name — random renames retire the old one,
      // and every later op must compose with the evolved schema
      var textName = "text"

      def appendBatch(): String = {
        val n = 30 + rnd.nextInt(60)
        val tag = s"b$nextBatch"
        nextBatch += 1
        val df0 = Synth.pages(spark, n, hosts = 4, partitions = 2, seed = rnd.nextLong())
          .withColumn("url", concat(lit(s"$tag/"), col("url")))
        val df = if (textName == "text") df0 else df0.withColumnRenamed("text", textName)
        tbl.append(df)
        rows ++= df.select("url", textName).collect().map(r => MRow(r.getString(0), r.getString(1)))
        s"append($tag, $n)"
      }
      appendBatch() // never start empty
      if (round == 1) { // guarantee at least one evolved-schema round
        tbl.renameColumn(textName, "content"); textName = "content"
      }

      def visible: Seq[MRow] = rows.toSeq

      val steps = 10 + rnd.nextInt(4)
      val oplog = mutable.Buffer.empty[String]
      for (_ <- 0 until steps) {
        val op = rnd.nextInt(13)
        oplog += (op match {
          case 11 => // GENERIC multi-column cluster (ZDims.columns) — full
            // rewrite through the order-preserving embeddings; composes with
            // the bucketed round's per-dir groups
            Cluster.zorderRewrite(tbl,
              Cluster.ZDims(columns = Seq("url", "warc_ts")),
              targetFileBytes = 1L << 20, runId = s"model-g$round-${oplog.size}")
            "clusterGeneric"
          case 12 => // bucket-count evolution + incremental layout migration:
            // flip bucket(4)↔bucket(8) (covers the zero-shuffle divisible
            // grow AND the redistribute shrink), then REBUCKET the
            // nonconforming slice
            if (round != 1) "rebucketSkip(unbucketed)"
            else {
              val cur = tbl.partitionSpecs.find(_.transform == "bucket").get.param.get
              val next = if (cur == 4) 8 else 4
              tbl.setPartitionSpec(Some(s"bucket($next, url)"))
              Rebucket.migrate(tbl, runId = s"model-rb$round-${oplog.size}")
              s"rebucket($cur->$next)"
            }
          case 10 => // DV-file compaction: merges delete files, rows untouched
            tbl.rewriteDeleteFiles() match {
              case Some(_) => "rewriteDeletes"
              case None    => "rewriteDeletesNoop"
            }
          case 8 => // positional (DV) delete of a visible-url sample
            val candidates = visible.map(_.url).distinct
            if (candidates.isEmpty) "noop" else {
              val picked = rnd.shuffle(candidates).take(1 + rnd.nextInt(8)).toSet
              tbl.deleteWherePositional(col("url").isin(picked.toSeq: _*))
              val kept = rows.filterNot(r => picked.contains(r.url))
              rows.clear(); rows ++= kept
              s"dvDelete(${picked.size})"
            }
          case 9 => // positional (DV) update of a visible-url sample
            val candidates = visible.map(_.url).distinct
            if (candidates.isEmpty) "noop" else {
              val picked = rnd.shuffle(candidates).take(1 + rnd.nextInt(6)).toSet
              tbl.updateWherePositional(col("url").isin(picked.toSeq: _*),
                Map(textName -> concat(lit("PUP:"), col(textName))))
              val updated = rows.map { r =>
                if (picked.contains(r.url)) MRow(r.url, s"PUP:${r.text}") else r
              }
              rows.clear(); rows ++= updated
              s"dvUpdate(${picked.size})"
            }
          case 7 => // schema evolution mid-lifecycle: rename the text column
            val to = s"text_$nextBatch"; nextBatch += 1
            tbl.renameColumn(textName, to)
            textName = to
            s"rename($to)"
          case 6 => // ANSI merge: update + delete + insert in one pass
            val shuffled = rnd.shuffle(visible)
            val upd = shuffled.take(1 + rnd.nextInt(6))
            val del = shuffled.drop(upd.size).take(rnd.nextInt(4))
            val tag = s"m$nextBatch"; nextBatch += 1
            val ins = (0 until 1 + rnd.nextInt(4)).map(i => MRow(s"$tag/u$i", s"INS-$tag-$i"))
            val ts = new java.sql.Timestamp(1735689600000L)
            val html = Array[Byte](1, 2)
            val src = (
              upd.map(r => (r.url, ts, html, s"UPD-${r.text}", "en", false)) ++
              del.map(r => (r.url, ts, html, "DEL", "en", true)) ++
              ins.map(r => (r.url, ts, html, r.text, "en", false)))
              .toDF("url", "warc_ts", "html", textName, "lang", "_deleted")
            // mode is semantics-free (asserted here across random op mixes):
            // MoR lands DV entries + appends, CoW rewrites touched files
            graft.ops.Merge.into(tbl, src, Seq("url"), latestWins = false,
              mode = if (rnd.nextBoolean()) "merge-on-read" else "copy-on-write")
            val updMap = upd.map(r => r.url -> s"UPD-${r.text}").toMap
            val delSet = del.map(_.url).toSet
            val newRows = rows.toSeq
              .map(r => updMap.get(r.url).fold(r)(t => MRow(r.url, t)))
              .filterNot(r => delSet.contains(r.url)) ++ ins
            rows.clear(); rows ++= newRows
            s"merge(u=${upd.size},d=${del.size},i=${ins.size})"
          case 0 | 1 => appendBatch()
          case 2 => // MoR key delete of a sample of currently-visible keys:
            // removes their visible rows at once (later rows with the same
            // key would be visible again)
            val candidates = visible.map(_.url).distinct
            if (candidates.isEmpty) "noop" else {
              val picked = rnd.shuffle(candidates).take(1 + rnd.nextInt(8))
              tbl.deleteByKeysMoR(picked.toDF("url"))
              val kept = rows.filterNot(r => picked.contains(r.url))
              rows.clear(); rows ++= kept
              s"morDelete(${picked.size})"
            }
          case 3 =>
            Compact.run(tbl, targetBytes = 1L << 30)
            "compact"
          case 4 =>
            Cluster.zorderRewrite(tbl, Cluster.ZDims(), targetFileBytes = 1L << 20,
              runId = s"model-$round-${oplog.size}")
            "clusterFull"
          case 5 =>
            Expire.expire(tbl, retainLast = 2)
            "expire"
        })
        val got = tbl.read().select(col("url"), col(textName).as("text")).as[MRow]
        assertSameRows(got.toDF(), visible.toDF(),
          s"round $round after ${oplog.mkString(" → ")}")
      }

      // changelog invariant over the WHOLE random op interleaving: folding
      // the retained chain's insert/delete row images onto its oldest
      // snapshot reconstructs read() exactly — appends, ANSI merges, MoR
      // deletes, materializing cluster rewrites, renames and expiry all
      // composed in one history
      info(s"round $round ops: ${oplog.mkString(" → ")}")
      val md = tbl.metadata
      var base = md.currentSnapshot.get
      while (base.parentId.flatMap(md.snapshot).nonEmpty)
        base = base.parentId.flatMap(md.snapshot).get
      val ev = tbl.changes(base.id).localCheckpoint(true)
      val colsNow = tbl.schema.fieldNames.toSeq
      var state = tbl.readSnapshot(base.id).select(colsNow.map(col): _*)
      val commitIds = ev.select(Changelog.CommitCol).distinct()
        .collect().map(_.getLong(0)).sorted
      for (c <- commitIds) {
        val of = ev.filter(col(Changelog.CommitCol) === c)
        state = state
          .exceptAll(of.filter(col(Changelog.ChangeTypeCol) === "delete")
            .select(colsNow.map(col): _*))
          .unionByName(of.filter(col(Changelog.ChangeTypeCol) === "insert")
            .select(colsNow.map(col): _*))
      }
      assertSameRows(state, tbl.read().select(colsNow.map(col): _*),
        s"round $round changelog fold after ${oplog.mkString(" → ")}")
    }
  }
}
