package graft.textops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class TextOpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup of 1
    (4L, "completely different text about spark engines and parquet files"),
    (5L, "der schnelle braune fuchs springt ueber den faulen hund und der hund ist")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min-id survivor per text") {
    val out = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("minhash LSH finds exact and near duplicates, not distinct docs") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup pair must surface")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "doc 4 has no near dups")
    // jaccard of the exact pair is 1.0
    val j = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("simhash: identical docs have distance 0; blocked pairs verified") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("ngram jaccard: 1.0 for identical, in (0,1) for near dup, low for distinct") {
    val j = docs.alias("a").join(docs.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        Dedup.ngramJaccard(col("a.text"), col("b.text"), 3).as("j"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.2 && j((1L, 3L)) < 1.0)
    assert(j((1L, 4L)) == 0.0)
  }

  test("winnowing fingerprint overlaps heavily for near-dup, not for distinct") {
    // winnowing's guarantee (Schleimer et al. §3): a shared token run of at
    // least w+k-1 tokens shares at least one selected hash — so the near-dup
    // pair differs by ONE middle token in a long doc (shared runs of 9
    // tokens ≫ w+k-1 = 6 on each side), while the earlier 9-token fixture
    // pair shared only 2-gram runs and its overlap was hash-luck
    val words = (0 until 10).map(i => s"tok$i")
    val longDocs = Seq(
      (1L, words.mkString(" ")),
      (2L, words.mkString(" ")), // exact dup of 1
      (3L, words.updated(5, "CHANGED").mkString(" ")), // near dup of 1
      (4L, "completely different text about spark engines and parquet files etc")
    ).toDF("doc_id", "text")
    val fps = longDocs.select(col("doc_id"), TextAnalysis.winnowingFingerprint(col("text")).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    def overlap(a: Seq[Long], b: Seq[Long]) =
      a.toSet.intersect(b.toSet).size.toDouble / math.max(1, a.toSet.union(b.toSet).size)
    assert(overlap(fps(1L), fps(2L)) == 1.0)
    assert(overlap(fps(1L), fps(3L)) > 0.0, "guaranteed shared selection for shared run >= w+k-1")
    assert(overlap(fps(1L), fps(3L)) < 1.0, "a middle edit must perturb the fingerprint")
    assert(overlap(fps(1L), fps(4L)) == 0.0)
  }

  test("language id heuristic: en vs de markers") {
    val preds = docs.select(col("doc_id"), TextAnalysis.langIdHeuristic(col("text")).as("p"))
      .as[(Long, String)].collect().toMap
    assert(preds(1L) == "en")
    assert(preds(5L) == "de")
  }

  test("token counts and quality columns") {
    val row = docs.filter(col("doc_id") === 1)
      .select(TextAnalysis.tokenCount(col("text")).as("n") +: TextAnalysis.qualityColumns(col("text")): _*)
      .collect().head
    assert(row.getLong(0) == 9)
    assert(row.getLong(row.fieldIndex("n_words")) == 9)
    assert(row.getDouble(row.fieldIndex("stopword_ratio")) > 0.2) // "the" x2, "over"
  }

  test("cosine brute-force top-k: self-similarity ranks first") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "embedding", "vec_id", Seq(1.0f, 0.0f, 0.0f), 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L))
  }

  test("hyperplane LSH: identical vectors collide, neighbors found") {
    val base = (0 until 100).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 17 + d).toFloat)))
    val planted = base ++ Seq((1000L, base(5)._2)) // clone of vec 5
    val df = planted.toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearNeighbors(df, "embedding", "vec_id", threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((5L, 1000L)))
  }

  test("ivf probe search: recall vs brute force on planted clusters") {
    // 4 well-separated clusters around orthogonal-ish centroids
    val dim = 8
    val centroids = (0 until 4).map(c => Seq.tabulate(dim)(d => if (d % 4 == c) 1.0 else 0.05))
    val pts = for (c <- 0 until 4; i <- 0 until 50) yield {
      val jitter = Seq.tabulate(dim)(d => math.sin(c * 131 + i * 17 + d) * 0.05)
      ((c * 50 + i).toLong, centroids(c).lazyZip(jitter).map(_ + _).map(_.toFloat).toArray)
    }
    val df = pts.toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(df, "embedding", centroids)
    // every point lands in its own cluster's cell (separation ≫ jitter)
    assert(assigned.filter(col("_cell") =!= (col("vec_id") / 50).cast("int")).count() === 0)
    val query = centroids(2).map(_ + 0.01)
    val exact = Similarity.bruteForceTopK(df, "embedding", "vec_id",
      query.map(_.toFloat), 10).select("vec_id").as[Long].collect().toSet
    val viaIvf = Similarity.ivfSearch(assigned, "embedding", "vec_id",
      centroids, query, k = 10, nProbe = 1).select("vec_id").as[Long].collect().toSet
    // query sits inside cluster 2: probing its single cell recovers the
    // exact top-k entirely
    assert(viaIvf === exact, s"ivf=$viaIvf exact=$exact")
    // nProbe = all cells degenerates to brute force on any query
    val hard = Seq.tabulate(dim)(d => math.cos(d * 3) * 0.7)
    val allProbe = Similarity.ivfSearch(assigned, "embedding", "vec_id",
      centroids, hard, k = 10, nProbe = 4).select("vec_id").as[Long].collect().toSet
    val hardExact = Similarity.bruteForceTopK(df, "embedding", "vec_id",
      hard.map(_.toFloat), 10).select("vec_id").as[Long].collect().toSet
    assert(allProbe === hardExact)
  }

  test("ivf cells as hidden bucket partitions: probe filter prunes data files") {
    // the 100 TB path the ivfSearch scaladoc promises: materialize `_cell`,
    // bucket the table on it, and the probe-cell IN filter becomes FILE
    // pruning through Catalyst's pushed-down filters — nProbe/cells of the
    // corpus is scanned, not all of it
    import graft.table.{GraftTable, PartitionSpec}
    val dim = 8
    val centroids = (0 until 8).map(c => Seq.tabulate(dim)(d => if (d == c) 1.0 else 0.05))
    val pts = for (c <- 0 until 8; i <- 0 until 40) yield (
      (c * 40 + i).toLong,
      centroids(c).zipWithIndex.map { case (v, d) => v + math.sin(c * 131 + i * 17 + d) * 0.05 })
    val df = pts.toDF("vec_id", "embedding").repartition(4)
    val assigned = Similarity.ivfAssign(df, "embedding", centroids)
    val t = GraftTable.create(spark, tmpDir("graft-ivf-bucket"), assigned.schema,
      Map(PartitionSpec.Property -> "bucket(8, _cell)"))
    t.append(assigned)
    val all = t.files()
    assert(all.size >= 8, s"expected one file set per bucket dir, got ${all.size}")

    // metadata planning prunes the probe cell to its bucket's files …
    val planned = t.planFiles(Some(col("_cell").isin(3)))
    assert(planned.nonEmpty && planned.size < all.size,
      s"bucket pruning must drop non-probe files: ${planned.size}/${all.size}")
    // … and the SAME pruning happens inside Catalyst on a real scan
    val scanned = t.read().filter(col("_cell").isin(3))
      .select(input_file_name()).distinct().count()
    assert(scanned == planned.size,
      s"executed scan read $scanned files, planner promised ${planned.size}")

    // search through the bucketed table matches search over the raw frame
    val query = centroids(3).map(_ + 0.01)
    val viaTable = Similarity.ivfSearch(t.read(), "embedding", "vec_id",
      centroids, query, k = 5, nProbe = 1).select("vec_id").as[Long].collect().toSet
    val viaRaw = Similarity.ivfSearch(assigned, "embedding", "vec_id",
      centroids, query, k = 5, nProbe = 1).select("vec_id").as[Long].collect().toSet
    assert(viaTable === viaRaw && viaTable.nonEmpty)
  }

  test("connected components + near-dup removal") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, unpaired 20
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(comp(1L) === 1L && comp(2L) === 1L && comp(3L) === 1L)
    assert(comp(10L) === 10L && comp(11L) === 10L)

    val corpus = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val kept = Dedup.dropNearDuplicates(corpus, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(kept === Set(1L, 10L, 20L), "min-id survivor per cluster + unpaired docs")

    // long chains must converge with the default budget, and a too-small
    // maxIter must FAIL LOUDLY, not return truncated components
    val chain = (0L until 24L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainComp = Dedup.connectedComponents(chain)
    assert(chainComp.filter(col("component") === 0L).count() === 25)
    chainComp.unpersist()
    assert(intercept[IllegalStateException](
      Dedup.connectedComponents(chain, maxIter = 2))
      .getMessage.contains("did not converge"))

    // end-to-end: planted exact clones vanish, survivors = exact-dedup set
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < 3).withColumn("doc_id", col("doc_id") + 100L))
    val p2 = Dedup.minhashNearDups(planted, "doc_id", "text", threshold = 1.0)
    val resolved = Dedup.dropNearDuplicates(planted, "doc_id", p2)
    val exact = Dedup.exact(planted, col("text"), col("doc_id"))
    assert(resolved.count() === exact.count())
  }
}
