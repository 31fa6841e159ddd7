package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.CurationJob
import graft.similarity.{Embeddings, VectorIndex}
import graft.sources.{Snapshots, StatsFileIndex, Tables}

/** The serving path's per-request cost: a warm stored-IVF top-k and a
  * warm point lookup run a fixed, small number of Spark jobs and find
  * all their generated code in the codegen cache, whatever query vector
  * or id they are asked for. */
class ServingCostSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"serving-$tag").toString

  private lazy val vecs = Tables.embeddings(spark, sf)
    .select(col("vec_id"), Embeddings.asDouble(col("embedding")).as("v"))
    .localCheckpoint()

  test("a warm stored-IVF top-k runs at most 2 Spark jobs and compiles no class") {
    val root = freshRoot("ann")
    VectorIndex.build(vecs, root, seedK = 8, iters = 2)
    val qs = vecs.filter(col("vec_id") < 4).as[(Long, Array[Double])].collect()
    def ann(q: (Long, Array[Double])): Array[(Long, Long, Double)] =
      VectorIndex.ivfTopKStored(spark, root, Seq(q).toDF("q_id", "qv"), k = 10)
        .select("rank", "n_id", "cos").as[(Long, Long, Double)].collect()
    qs.take(3).foreach(ann)
    // a query vector this process has not sent before
    val (rows, cost) = OpCost.of(ann(qs(3)))
    info(s"warm ANN: $cost")
    assert(rows.length == 10)
    assert(cost.jobs <= 2, s"a warm ANN request ran ${cost.jobs} Spark jobs")
    assert(cost.compiles == 0, s"a warm ANN request compiled ${cost.compiles} classes")
  }

  test("a warm lookupDocs on a new id compiles no class and lists one file") {
    val root = freshRoot("lookup") + "/curated"
    val corpus = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    Snapshots.commit(corpus.repartitionByRange(4, col("doc_id")), root,
      statsCols = Seq("doc_id"))
    // a delta on a disjoint id range: its sidecar must skip it too
    Snapshots.commitAppend(
      corpus.select((col("doc_id") + 1000000L).as("doc_id"), col("text")), root)
    val ids = corpus.select(col("doc_id")).as[Long].collect().sorted
    def lookup(id: Long): Array[(Long, String)] =
      CurationJob.lookupDocs(spark, root, id, id)
        .select("doc_id", "text").as[(Long, String)].collect()
    Seq(ids(1), ids(ids.length / 2)).foreach(lookup)
    val fresh = ids(ids.length - 2)
    val dirs = Snapshots.chainVersions(root, Snapshots.latestVersion(root).get)
      .map(v => s"$root/data/v=$v")
    dirs.foreach(StatsFileIndex.pruneLog.remove)
    val (rows, cost) = OpCost.of(lookup(fresh))
    info(s"warm lookup of a new id: $cost")
    assert(rows.map(_._1).toSeq == Seq(fresh))
    assert(cost.compiles == 0, s"a warm lookup compiled ${cost.compiles} classes")
    val listed = dirs.flatMap(d => Option(StatsFileIndex.pruneLog.get(d)))
    assert(listed.size == dirs.size, s"a chain member skipped no file: $listed")
    assert(listed.map(_._1).sum == 1, s"the lookup listed ${listed.map(_._1)} files")
  }

  /** The Spark-side plan [[VectorIndex.ivfTopKStored]] ran before its
    * probe moved to the driver: probes ranked by TopKAgg over a
    * query × centroid cross join, candidates joined to their probing
    * queries and ranked by TopKAgg through a shuffle. */
  private def sparkSideTopK(root: String, queries: DataFrame, k: Int,
      nprobe: Int, candFilter: Column = lit(true)): DataFrame = {
    val cents = Snapshots.read(spark, VectorIndex.centroidsRoot(root))
    val probes: Array[(Long, List[Long])] = queries.crossJoin(broadcast(cents))
      .select(col("q_id"),
        round(Embeddings.cosine(col("qv"), col("cv")), 6).as("ccos"),
        col("cid").cast("long").as("cid"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(graft.plans.TopKAgg(nprobe).toColumn)
      .map { case (q, top) => (q, top.map(_._2)) }
      .collect()
    val qprobe = broadcast(
      probes.toSeq.flatMap { case (q, bs) => bs.map(b => (q, b.toInt)) }
        .toDF("q_id", "bucket")
        .join(queries, Seq("q_id")))
    val buckets = probes.flatMap(_._2).distinct.map(_.toInt)
    Snapshots.read(spark, VectorIndex.assignmentsRoot(root))
      .filter(col("bucket").isin(buckets: _*))
      .filter(candFilter)
      .join(qprobe, Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"),
        round(Embeddings.cosine(col("qv"), col("v")), 6).as("cos"),
        col("vec_id").as("n_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(graft.plans.TopKAgg(k).toColumn)
      .flatMap { case (q, top) =>
        top.zipWithIndex.map { case ((cs, n), i) => (q, (i + 1).toLong, n, cs) }
      }
      .toDF("q_id", "rank", "n_id", "cos")
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("q_id", "rank", "n_id", "cos").as[(Long, Long, Long, Double)]
      .collect().toSeq.sorted

  test("the driver-side probe answers as the Spark-side one did") {
    val root = freshRoot("probe")
    // cids 5 and 7 tie for (1, 1, 0) at 6 dp although 7 scores higher
    // unrounded; cid 1 holds no vector
    Snapshots.commit(Seq(
      (1, Array(-1.0, 0.0, 0.0)), (5, Array(1.0, 0.0, 0.0)),
      (7, Array(1.0, 1e-8, 0.0)), (9, Array(0.0, 0.0, 1.0)))
      .toDF("cid", "cv"), VectorIndex.centroidsRoot(root))
    val rows = for (i <- 0 until 36) yield {
      val b = Seq(5, 7, 9)(i % 3)
      val v = Array(1.0 + (i % 5) * 0.1, (i % 7) * 0.2, (i % 3) * 0.5 + (i % 4) * 0.1)
      (i.toLong, v, if (i % 2 == 0) "en" else "de", b)
    }
    Snapshots.commitPartitioned(rows.toDF("vec_id", "v", "lang", "bucket"),
      VectorIndex.assignmentsRoot(root), Seq("bucket"))
    val tie = Seq((100L, Array(1.0, 1.0, 0.0))).toDF("q_id", "qv")
    val all = Seq(
      (100L, Array(1.0, 1.0, 0.0)), (101L, Array(0.2, 0.1, 1.0)),
      (102L, Array(-1.0, -0.1, 0.0)),
      // q_id 3 is also a stored vector in its own bucket: never ranked
      (3L, rows(3)._2)).toDF("q_id", "qv")
    val cases = Seq(
      ("6-dp tie", tie, 1, lit(true)),
      ("multi-query", all, 2, lit(true)),
      ("candFilter", all, 2, col("lang") === "en"),
      ("empty probed bucket", all, 1, lit(true)))
    cases.foreach { case (name, qs, nprobe, filter) =>
      val got = rowsOf(VectorIndex.ivfTopKStored(spark, root, qs, k = 4, nprobe, filter))
      assert(got == rowsOf(sparkSideTopK(root, qs, 4, nprobe, filter)), name)
      assert(got.nonEmpty, name)
    }
    // the tie goes to the lowest cid: every neighbor lives in bucket 5
    val tied = rowsOf(VectorIndex.ivfTopKStored(spark, root, tie, k = 4, nprobe = 1))
    assert(tied.map(_._3).forall(id => rows(id.toInt)._4 == 5), s"tie broke to cid 7: $tied")
    // bucket 1 has no vector: query 102 gets no row, the others theirs
    val lone = rowsOf(VectorIndex.ivfTopKStored(spark, root, all, k = 4, nprobe = 1))
    assert(lone.map(_._1).toSet == Set(3L, 100L, 101L))
    assert(lone.forall(_._3 != 3L) && lone.forall(r => r._1 != r._3))
    assert(VectorIndex.ivfTopKStored(spark, root,
      all.filter(col("q_id") === 102L), k = 4, nprobe = 1).count() == 0)
  }

  test("the centroid cache misses on a rebuild and a recommit, and vacuum evicts it") {
    val root = freshRoot("cents") + "/centroids"
    def cents(x: Double) = Seq((0, Array(x, 1.0))).toDF("cid", "cv")
    def cached() = OpCost.of(Snapshots.collectLatest(spark, root)
      .map(r => r.getAs[Seq[Double]]("cv").head).toSeq)
    val v0 = Snapshots.commit(cents(1.0), root)
    assert(cached()._1 == Seq(1.0))
    val (again, hit) = cached()
    assert(again == Seq(1.0) && hit.jobs == 0, s"a second read ran $hit")
    // a rebuild commits a new version
    val v1 = Snapshots.commit(cents(2.0), root)
    assert(cached()._1 == Seq(2.0))
    // rollback serves the old commit; the recommit reuses version v1
    // under a new identity and must not be served the rolled-away one
    Snapshots.rollback(root, v0)
    assert(cached()._1 == Seq(1.0))
    assert(Snapshots.commit(cents(3.0), root) == v1)
    assert(cached()._1 == Seq(3.0))
    Snapshots.vacuum(root, keep = 0)
    assert(!Snapshots.collectedCache.keySet.toArray.exists {
      case (r: String, v: Long, _) => r == root && v == v0
      case _ => false
    }, "vacuum kept the dropped version's entry")
    assert(cached()._1 == Seq(3.0))
  }
}
